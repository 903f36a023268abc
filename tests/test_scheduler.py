"""Scheduler scenario replay — the reference's richest test
(scheduler_test.go:201-251) plus the predicate tables (:62-147)."""

import pytest
from pyspark.sql import functions as F

from bathyscaphe_spark.config import CrawlConfig, MimeType
from bathyscaphe_spark.functions.fnv import unsigned_to_signed
from bathyscaphe_spark.functions.urltools import url_parts_py
from bathyscaphe_spark.operators.scheduler import (
    apply_hostname_blacklist,
    schedule_candidates,
    with_url_parts,
)

SCENARIO_BODY = """
<a href=\\"https://facebook.onion/test.php?id=1\\">This is a little test</a>.
Check out https://google.onion. This is an image https://example.onion/test.png
This domain is blacklisted: https://m.fbi.onion/test.php
"""

PHP_ONLY = CrawlConfig(allowed_mime_types=(MimeType("text/", ("php",)),))
HTML_PHP = CrawlConfig(allowed_mime_types=(MimeType("text/", ("html", "php")),))


def _reference_host(url):
    """F1-F3 rebuilt from ``url_parts_py`` and the reference's rules
    (scheduler.go:150-189), without the kernel's regex: the host ends
    with '.onion', the scheme starts with 'http', and the lowercased path
    ends with an allowed '.ext' or its last segment has no '.'.  Returns
    the port-less host of a passing url, else None."""
    scheme, host, path, _ = url_parts_py(url)
    if not host.endswith(".onion") or not scheme.startswith("http"):
        return None
    lowered = path.lower()
    by_ext = any(
        lowered.endswith("." + e) for e in CrawlConfig().allowed_extensions
    )
    if by_ext or "." not in path.split("/")[-1]:
        return host
    return None


def _pages(spark, body=SCENARIO_BODY, url="https://l.facebookcorewwwi.onion/test.php"):
    return spark.createDataFrame(
        [(url, bytearray(body, "utf-8"))], "url string, html binary"
    )


def test_scenario_replay(spark):
    """4-URL body, seen={google.onion}, blacklist={fbi.onion}, ext={php}
    ⇒ publish exactly facebook.onion/test.php?id=1
    (scheduler_test.go:201-251)."""
    seen = spark.createDataFrame(
        [(unsigned_to_signed(17173291053643777680), None)],
        "url_hash long, expires_ts timestamp",
    )
    out = schedule_candidates(
        _pages(spark), PHP_ONLY, seen=seen, blacklist=["fbi.onion"]
    ).collect()
    assert len(out) == 1
    assert out[0]["url"] == "https://facebook.onion/test.php?id=1"
    assert out[0]["url_hash"] == unsigned_to_signed(15038381360563270096)
    assert out[0]["host"] == "facebook.onion"


def test_scenario_seen_delta(spark):
    """Without the seen set, exactly {facebook, google} survive the
    filters — these two hashes are what the reference writes back
    (scheduler_test.go:242-245: SetManyInt64 gets exactly 2 of 4)."""
    out = schedule_candidates(
        _pages(spark), PHP_ONLY, seen=None, blacklist=["fbi.onion"]
    ).collect()
    assert sorted(r["url_hash"] for r in out) == sorted(
        [
            unsigned_to_signed(15038381360563270096),
            unsigned_to_signed(17173291053643777680),
        ]
    )


@pytest.mark.parametrize(
    "url",
    ["https://example.org", "https://pastebin.onionsearchengine.com"],
)
def test_f1_not_onion(spark, url):
    # scheduler_test.go:62-74
    body = f"link: {url}/page.php"
    out = schedule_candidates(_pages(spark, body), HTML_PHP).collect()
    assert out == []


@pytest.mark.parametrize("url", ["ftp://example.onion", "irc://example.onion"])
def test_f2_protocol(spark, url):
    # scheduler_test.go:76-88
    out = schedule_candidates(_pages(spark, f"see {url}"), HTML_PHP).collect()
    assert out == []


@pytest.mark.parametrize(
    "url",
    [
        "https://example.onion/image.PNG?id=12&test=2",
        "https://example.onion/favicon.ico",
    ],
)
def test_f3_extension(spark, url):
    # scheduler_test.go:90-106: uppercase PNG still rejected (lowercased path)
    out = schedule_candidates(_pages(spark, f"see {url}"), HTML_PHP).collect()
    assert out == []


def test_f3_no_extension_allowed(spark):
    # scheduler.go:172-185: last path component without '.' ⇒ allowed
    body = "see https://example.onion/admin/secret and https://other.onion"
    out = schedule_candidates(_pages(spark, body), HTML_PHP).collect()
    assert sorted(r["url"] for r in out) == [
        "https://example.onion/admin/secret",
        "https://other.onion",
    ]


def test_f3_dotted_dir_with_allowed_ext(spark):
    # scheduler_test.go:172: /admin.secret/login.html is allowed (ends .html)
    body = "x http://google.onion/admin.secret/login.html y"
    out = schedule_candidates(_pages(spark, body), HTML_PHP).collect()
    assert [r["url"] for r in out] == ["http://google.onion/admin.secret/login.html"]


@pytest.mark.parametrize(
    "url,blacklist",
    [
        ("https://facebookcorewwwi.onion/login.html?id=12&test=2", ["facebookcorewwwi.onion"]),
        ("https://google.onion:9099", ["google.onion"]),
        ("http://facebook.onion:443/news/test.php?id=12&username=test", ["facebook.onion"]),
        # substring-contains: www.facebookcorewwwi.onion matches too
        ("https://www.facebookcorewwwi.onion/recover/initiate?ars=facebook_login", ["facebookcorewwwi.onion"]),
    ],
)
def test_f4_forbidden(spark, url, blacklist):
    # scheduler_test.go:108-147
    out = schedule_candidates(_pages(spark, f"see {url}"), HTML_PHP, blacklist=blacklist).collect()
    assert out == []


def test_f4_no_false_substring(spark):
    # constraint/hostname_test.go:23-28: google2.onion does NOT match google.onion
    body = "see https://google2.onion/x.html"
    out = schedule_candidates(_pages(spark, body), HTML_PHP, blacklist=["google.onion"]).collect()
    assert [r["url"] for r in out] == ["https://google2.onion/x.html"]


def test_f4_dataframe_blacklist(spark):
    bl = spark.createDataFrame([("fbi.onion",)], "hostname string")
    df = spark.createDataFrame(
        [("https://m.fbi.onion/a.html", "m.fbi.onion"), ("https://ok.onion/a.html", "ok.onion")],
        "url string, host string",
    )
    out = apply_hostname_blacklist(df, bl).collect()
    assert [r["host"] for r in out] == ["ok.onion"]


def test_d2_in_round_dedup(spark):
    body = "dup https://a.onion/x.html and again https://a.onion/x.html"
    out = schedule_candidates(_pages(spark, body), HTML_PHP).collect()
    assert len(out) == 1


def test_parse_url_matches_go_hostname(spark):
    df = spark.createDataFrame(
        [("https://google.onion:9099/a?b=1",)], "url string"
    )
    row = with_url_parts(df).head()
    assert row["host"] == "google.onion"
    assert row["scheme"] == "https"
    assert row["path"] == "/a"


class TestTrapFilter:
    def test_trap_shapes(self, spark):
        from pyspark.sql import functions as F

        from bathyscaphe_spark.operators.scheduler import trap_filter_col

        rows = [
            (1, "/a/b/c", "", False),                       # normal
            (2, "/" + "x/" * 20, "", True),                 # deep
            (3, "/a/b/a/b/a", "", True),                    # cycle
            (4, "/a/b/a", "", False),                       # single repeat ok
            (5, "/p", "a=1&" * 12, True),                   # param explosion
            (6, "/p", "a=1&b=2", False),
            (7, "/" + "/".join(f"s{i}" for i in range(17)), "", True),  # depth only
        ]
        df = spark.createDataFrame(
            [(i, p, q) for i, p, q, _ in rows], "id long, path string, qs string"
        )
        got = {
            r["id"]: r["t"]
            for r in df.select(
                "id", trap_filter_col(F.col("path"), F.col("qs")).alias("t")
            ).collect()
        }
        for i, _, _, want in rows:
            assert got[i] == want, i


class TestExtractFilterBatchPartialAgg:
    """The r3 kernel emits partially-aggregated rows (min-depth per
    distinct normalized url per batch).  Pin: (a) the final aggregate is
    EXACTLY the unaggregated reference computation, (b) raws that
    normalize to the same url merge in-batch, (c) the src_host carry
    keys the groups, (d) the generic-carry path still emits one row per
    candidate."""

    def _batch(self, rows, carry):
        import pandas as pd

        from bathyscaphe_spark.config import CrawlConfig
        from bathyscaphe_spark.operators.scheduler import (
            _allowed_candidate_re,
            _extract_filter_batch,
        )

        cand_re = _allowed_candidate_re(tuple(CrawlConfig().allowed_extensions))
        pdf = pd.DataFrame(rows)
        return _extract_filter_batch(
            pdf, "_body", list(carry), cand_re, ("fbi.onion",)
        )

    def _reference(self, rows):
        """Unfused reference: per-candidate extract→normalize→F1-F4."""
        from bathyscaphe_spark.functions.urltools import (
            findall_urls,
            normalize_url_py,
        )

        out = []
        for r in rows:
            for raw in findall_urls(r["_body"]):
                u = normalize_url_py(raw)
                if u is None:
                    continue
                host = _reference_host(u)
                if host is None or "fbi.onion" in host:
                    continue
                out.append((u, host, r.get("depth"), r.get("src_host")))
        return out

    BODIES = [
        # duplicate link, fragment variant (normalizes to the same url),
        # uppercase-host variant (slow normalize path), a rejected .png,
        # a blacklisted host, and a non-onion reject
        {"_body": '<a href="https://a.onion/x.php?id=1">'
                  '<a href="https://a.onion/x.php?id=1#frag">'
                  '<a href="https://A.ONION/x.php?id=1">'
                  '<a href="https://a.onion/pic.png">'
                  '<a href="https://sub.fbi.onion/y.php">'
                  '<a href="https://plain.example/z.php">',
         "depth": 3, "src_host": "h1.onion"},
        {"_body": '<a href="https://a.onion/x.php?id=1">'
                  '<a href="https://b.onion/deep">',
         "depth": 1, "src_host": "h2.onion"},
        {"_body": "", "depth": 9, "src_host": "h3.onion"},
    ]

    def test_min_depth_merge(self):
        out = self._batch(self.BODIES, ("depth",))
        got = {r.url: (r.depth, r.host) for r in out.itertuples()}
        # one row per distinct normalized url; min depth wins
        assert got == {
            "https://a.onion/x.php?id=1": (1, "a.onion"),
            "https://b.onion/deep": (1, "b.onion"),
        }
        ref = self._reference(self.BODIES)
        assert {u for u, *_ in ref} == set(got)
        for u, h, d, _ in ref:
            assert got[u][0] <= d and got[u][1] == h

    def test_src_host_carry_keys_groups(self):
        out = self._batch(self.BODIES, ("depth", "src_host"))
        got = {(r.url, r.src_host): r.depth for r in out.itertuples()}
        assert got == {
            ("https://a.onion/x.php?id=1", "h1.onion"): 3,
            ("https://a.onion/x.php?id=1", "h2.onion"): 1,
            ("https://b.onion/deep", "h2.onion"): 1,
        }

    def test_hashes_match_reference_fnv(self):
        from bathyscaphe_spark.functions.fnv import fnv1_64_py, unsigned_to_signed

        out = self._batch(self.BODIES, ("depth",))
        for r in out.itertuples():
            assert r.url_hash == unsigned_to_signed(fnv1_64_py(r.url))

    def test_generic_carry_keeps_multiplicity(self):
        rows = [dict(r, other="x") for r in self.BODIES]
        out = self._batch(rows, ("depth", "other"))
        # 'other' is outside the partial-agg key set → per-candidate rows
        urls = list(out["url"])
        assert urls.count("https://a.onion/x.php?id=1") == 4  # 3 + 1 dups


def test_extract_filter_batch_property_vs_reference():
    """Randomized bodies (messy URLs: fragments, case, dot segments,
    ports, userinfo, dotted directories, double extensions, unparseable,
    blacklisted, duplicates) through the partial-agg kernel must — after
    the final min-aggregation the caller applies — equal the unfused
    per-candidate reference pipeline, whose F1-F3 do not use the
    kernel's regex."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bathyscaphe_spark.config import CrawlConfig
    from bathyscaphe_spark.functions.urltools import (
        findall_urls,
        normalize_url_py,
    )
    from bathyscaphe_spark.operators.scheduler import (
        _allowed_candidate_re,
        _extract_filter_batch,
    )

    cand_re = _allowed_candidate_re(tuple(CrawlConfig().allowed_extensions))
    FORBIDDEN = ("fbi.onion",)

    url = st.sampled_from(
        [
            "https://a.onion/x.php?id=1",
            "https://a.onion/x.php?id=1#frag",
            "https://A.ONION/x.php?id=1",
            "https://a.onion/./x.php?id=1",
            "https://a.onion:443/x.php?id=1",
            "https://b.onion/deep",
            "https://b.onion/deep/",
            "https://c.onion/index.html",
            "https://c.onion",
            "https://sub.fbi.onion/y.php",
            "https://plain.example/z.php",
            "https://d.onion/pic.png",
            "http://%zz.onion/bad",
            "ftp://e.onion/f",
            "https://a.onion/Y.PHP",
            "https://a.onion/a.b/c",
            "https://a.onion/x.php.png",
            "https://c.onion?q=1",
            "https://u:p@a.onion/x.php",
            "https://a.onion:8080/x.php",
        ]
    )
    body = st.lists(url, max_size=6).map(
        lambda us: " ".join(f'<a href="{u}">' for u in us)
    )
    rows = st.lists(
        st.tuples(body, st.integers(0, 5), st.sampled_from(["h1", "h2"])),
        min_size=1, max_size=5,
    )

    def reference(rs):
        agg: dict[tuple[str, str], list] = {}
        for b, depth, sh in rs:
            for raw in findall_urls(b):
                u = normalize_url_py(raw)
                if u is None:
                    continue
                host = _reference_host(u)
                if host is None or any(f in host for f in FORBIDDEN):
                    continue
                k = (u, sh)
                if k not in agg or depth < agg[k][0]:
                    agg[k] = [depth, host]
        return {k: tuple(v) for k, v in agg.items()}

    @settings(max_examples=120, deadline=None)
    @given(rows)
    def check(rs):
        pdf = pd.DataFrame(
            {
                "_body": [b for b, _, _ in rs],
                "depth": [d for _, d, _ in rs],
                "src_host": [s for _, _, s in rs],
            }
        )
        out = _extract_filter_batch(
            pdf, "_body", ["depth", "src_host"], cand_re, FORBIDDEN
        )
        got: dict[tuple[str, str], list] = {}
        for r in out.itertuples():  # re-aggregate (kernel may emit per batch)
            k = (r.url, r.src_host)
            if k not in got or r.depth < got[k][0]:
                got[k] = [r.depth, r.host]
        assert {k: tuple(v) for k, v in got.items()} == reference(rs)

    check()
