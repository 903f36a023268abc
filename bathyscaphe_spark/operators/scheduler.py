"""Scheduler — extract, filter, and deduplicate candidate URLs.

Re-creates the reference scheduler (internal/scheduler/scheduler.go:93-249)
as one declarative DataFrame pipeline per round instead of a
record-at-a-time queue consumer:

  pages → ONE Arrow kernel (``_extract_filter_batch``): extract (X1)
        → normalize (X2) → F1 .onion / F2 protocol / F3 extension as one
        combined regex (``_allowed_candidate_re``) → F4 forbidden-hostname
        contains → FNV-1/64 hash (X3)
        → D2 in-round dedup → D1 anti-join vs seen → new frontier URLs

The parity API ``schedule_candidates`` and the crawl's
``pipeline.round.discover_new_urls`` both run this kernel through
``extract_filtered_candidates``.

Scale notes:
* The kernel factorizes candidates, so normalize / F1-F4 / hash run once
  per DISTINCT raw url in a batch, and rejected candidates never cross
  the Arrow pipe back to the JVM.
* F4 is substring containment (constraint/hostname.go:21-25).  A list
  blacklist runs inside the kernel; a DataFrame blacklist goes through
  ``apply_hostname_blacklist``: collected into a codegen'd OR-chain
  predicate when small, past a threshold an explicit ``broadcast()``
  nested-loop anti join.  Either way nothing shuffles.
* D1 shuffles both sides by url_hash (sort-merge / shuffled-hash anti
  join).  At 10^10-URL seen-set scale the optional sharded Bloom
  prefilter (operators/bloom.py) drops the candidates that cannot be new
  before the shuffle.
* D2 uses hash-partitioned ``dropDuplicates`` — map-side partial dedup
  then one shuffle on url_hash, reused by D1 (same key ⇒ Catalyst plans a
  single exchange).
* ``with_url_parts`` / ``extension_filter`` / ``hostname_allowed`` are
  the same rules as JVM column expressions, for queries that apply a
  single filter to a url column.
"""

from __future__ import annotations

import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.fnv import fnv1_64_np
from ..functions.urltools import findall_urls, normalize_url_py

# Fast path: a URL matching this is PROVABLY a fixed point of
# normalize_url_py (lowercase scheme+host, no port/userinfo/escape/
# fragment, no empty or dot path segments, no directory-index tail, no
# trailing slash, non-empty query if any).  Anything else takes the
# exact python path.  Property-tested in tests/test_urltools.py.
_ALREADY_NORMAL_RE = _re.compile(
    r"^(?!.*/\.{1,2}(?:[/?#]|$))"      # no '.'/'..' segments (even pre-query)
    r"(?!.*/(?:default|index)\.\w{1,4}(?:[?#]|$))"  # no dir-index last segment
    r"[a-z][a-z0-9+.-]*://"            # lowercase scheme
    r"[a-z0-9]([a-z0-9.-]*[a-z0-9])?"  # lowercase host, no port/userinfo
    r"(/(?:[^/?#%]+/)*[^/?#%]+)?"      # path: no //, %, #; no trailing /
    r"(\?[^#%]*[^#%?])?$"              # optional non-empty query
)


def _allowed_candidate_re(allowed_exts: tuple[str, ...]):
    """ONE compiled regex encoding F1 (.onion host, port-tolerant) + F2
    (http* scheme) + F3 (allowed extension OR dot-free last segment) over
    a NORMALIZED url, capturing the port-less host as group 1.

    A single ``str.extract`` pass replaces ~10 per-filter pandas passes —
    the r2.0 in-kernel filter chain was bandwidth-optimal but CPU-heavy
    (it lost at high core counts where CPU, not the Arrow pipe, is the
    scarce resource).  Match failure ⇒ filtered; group 1 ⇒ host.
    """
    ext_alt = "|".join(_re.escape(e) for e in allowed_exts) or "(?!)"
    return _re.compile(
        r"^http[a-z0-9+.-]*://"          # F2: scheme has prefix 'http'
        r"(?:[^/?#]*@)?"                 # userinfo stripped from host
        r"([^/?#]*\.onion)(?::\d*)?"     # F1: host ends '.onion'; port ok
        r"(?:/(?:[^?#]*/)?"              # F3 on the last path segment:
        rf"(?:[^/.?#]*|[^/?#]*\.(?i:{ext_alt})))?"  # no dot | allowed ext
        r"(?:\?[^#]*)?$"
    )


def _extract_filter_batch(
    pdf: pd.DataFrame,
    body_col: str,
    carry: list[str],
    cand_re,
    forbidden: tuple[str, ...],
) -> pd.DataFrame:
    """One Arrow batch: bodies → filtered candidate rows with the MINIMAL
    output schema (carry…, url, url_hash, host).

    The r1 kernel replicated the parent's url string per candidate and
    shipped scheme/path strings back just to be filtered JVM-side — at
    9.6M-page scale that Arrow traffic was the bandwidth ceiling behind
    the 0.423 N→4N efficiency.  F1-F3 + host parsing are ONE combined
    regex pass (``cand_re``), F4 a contains loop — rejected candidates
    never cross the pipe and survivors carry ~half the bytes.

    r3 refinements, output-equivalent after the caller's
    ``groupBy(url_hash)`` aggregation:

    * candidates are **factorized** first, so normalize / host-extract /
      F4 / FNV run once per DISTINCT raw url in the batch (~2.6× fewer
      at the default 10k-row batch — nav links repeat across pages);
    * when ``carry`` is the crawl hot path's ``(depth[, src_host])``,
      the batch emits ONE row per distinct (normalized url[, src_host])
      with the partial ``min(depth)`` — a map-side combine BEFORE the
      Arrow pipe, so duplicate candidates never cross it and never
      enter the shuffle.  min() is associative, so batch boundaries
      cannot affect the final aggregate."""
    bodies = pdf[body_col]
    lists = [findall_urls(b) if b else [] for b in bodies]
    counts = np.fromiter((len(l) for l in lists), dtype=np.int64, count=len(lists))
    flat: list[str] = [u for lst in lists for u in lst]
    cols = {c: pdf[c].iloc[:0] for c in carry}
    empty = pd.DataFrame(
        {
            **cols,
            "url": pd.Series([], dtype=object),
            "url_hash": pd.Series([], dtype=np.int64),
            "host": pd.Series([], dtype=object),
        }
    )
    if not flat:
        return empty
    # per-distinct-raw-url work: normalize → host/F1-F3 → F4
    codes, raw_u = pd.factorize(pd.Series(flat, dtype=object))
    u = pd.Series(raw_u, dtype=object)
    normal = u.str.match(_ALREADY_NORMAL_RE)
    if not normal.all():
        slow = u[~normal].map(normalize_url_py)
        u = u.copy()
        u[~normal] = slow
    # null url (unparseable normalize) and non-matching candidates both
    # yield NaN host
    host_u = u.str.extract(cand_re, expand=False)
    keep_u = host_u.notna().to_numpy(dtype=bool)
    # F4 substring-contains blacklist (constraint/hostname.go:21-25)
    for h in forbidden:
        keep_u &= ~host_u.str.contains(h, regex=False, na=False).to_numpy(
            dtype=bool
        )

    rep = np.repeat(np.arange(len(pdf)), counts)
    kept = keep_u[codes]
    rc = codes[kept]  # raw-unique code per surviving candidate
    rp = rep[kept]  # parent row per surviving candidate
    if not rc.size:
        return empty
    if set(carry) <= {"depth", "src_host"}:
        # partial-aggregate path: distinct raws can normalize to the SAME
        # url, so group by the normalized string (factorize again)
        nu_of_raw, nu_vals = pd.factorize(u)
        nc = nu_of_raw[rc].astype(np.int64)
        host_of_nu = np.empty(len(nu_vals), dtype=object)
        host_of_nu[nu_of_raw[keep_u]] = host_u.to_numpy(dtype=object)[keep_u]
        key = nc
        sh_codes = sh_vals = None
        if "src_host" in carry:
            sh_codes, sh_vals = pd.factorize(pdf["src_host"])
            key = nc * len(sh_vals) + sh_codes[rp]
        uk, inv = np.unique(key, return_inverse=True)
        out_nc = uk if sh_vals is None else uk // len(sh_vals)
        out = {}
        if "depth" in carry:
            depth = pdf["depth"].to_numpy()[rp]
            dmin = np.full(len(uk), np.iinfo(np.int64).max, dtype=np.int64)
            np.minimum.at(dmin, inv, depth.astype(np.int64))
            out["depth"] = dmin.astype(depth.dtype, copy=False)
        if sh_vals is not None:
            out["src_host"] = np.asarray(sh_vals, dtype=object)[
                (uk % len(sh_vals)).astype(np.int64)
            ]
        # index the NORMALIZED-unique values (nu space), NOT the raw-unique
        # array u: the two spaces diverge as soon as normalization merges
        # two raws or drops one (unparseable → None excluded from nu_vals)
        surv = pd.Series(np.asarray(nu_vals, dtype=object)[out_nc], dtype=object)
        out["url"] = surv.to_numpy()
        out["url_hash"] = fnv1_64_np(surv).view(np.int64)
        out["host"] = host_of_nu[out_nc]
        return pd.DataFrame(out, columns=[*carry, "url", "url_hash", "host"])

    # generic carry: one row per surviving candidate (original contract)
    out = pd.DataFrame({c: pdf[c].to_numpy()[rep][kept] for c in carry})
    surv = pd.Series(np.asarray(u, dtype=object)[rc], dtype=object)
    out["url"] = surv.to_numpy()
    out["url_hash"] = fnv1_64_np(surv).view(np.int64)
    out["host"] = host_u.to_numpy(dtype=object)[rc]
    return out


def extract_filtered_candidates(
    pages: DataFrame,
    config: CrawlConfig,
    forbidden: tuple[str, ...] = (),
    body_col: str = "html",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """X1+X2+X3 + F1-F4 in ONE mapInPandas stage, minimal columns out.

    pages(html, *carry) → (carry…, url, url_hash, host): the only URL
    extraction path, run by both ``schedule_candidates`` and the crawl's
    ``discover_new_urls``.  Only the carry columns and the body are read
    in, rejected candidates are dropped in-kernel (F1-F3 by
    ``_allowed_candidate_re``, F4 by the ``forbidden`` substrings), and no
    scheme/path strings are emitted.  A JVM-side ``regexp_extract_all``
    extractor was measured 1.6-1.8x slower than this Arrow kernel at 2
    and 8 cores: Java regex materializes every KB-scale body as UTF-16.
    """
    carry = list(carry_cols)
    body = F.col(body_col)
    src = pages.select(
        *[F.col(c) for c in carry],
        F.when(body.isNotNull(), body.cast("string"))
        .otherwise(F.lit(""))
        .alias("_body"),
    )
    carry_schema = "".join(
        f"{f.name} {f.dataType.simpleString()}, "
        for f in src.schema.fields
        if f.name in carry
    )
    out_schema = carry_schema + "url string, url_hash long, host string"
    cand_re = _allowed_candidate_re(tuple(config.allowed_extensions))
    bad = tuple(forbidden)

    def _run(batches):
        for pdf in batches:
            yield _extract_filter_batch(pdf, "_body", carry, cand_re, bad)

    return src.mapInPandas(_run, schema=out_schema)


def with_url_parts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """JVM-side component parsing: scheme/host/path columns via parse_url
    (X10).  parse_url returns host without port, matching Go's
    ``u.Hostname()`` (scheduler.go:151)."""
    u = F.col(url_col)
    return (
        df.withColumn("scheme", F.parse_url(u, F.lit("PROTOCOL")))
        .withColumn("host", F.parse_url(u, F.lit("HOST")))
        .withColumn("path", F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit("")))
    )


# --- F3/F4 as column predicates --------------------------------------------

def extension_filter(path: Column, allowed_extensions: tuple[str, ...]) -> Column:
    """F3 (scheduler.go:160-189): lowercased path ends with an allowed
    '.ext', OR the last path component contains no '.' (no extension ⇒
    assumed text/*)."""
    lowered = F.lower(path)
    by_ext = F.lit(False)
    for ext in allowed_extensions:
        by_ext = by_ext | lowered.endswith("." + ext)
    last_component = F.element_at(F.split(path, "/"), -1)
    no_ext = ~last_component.contains(".")
    return by_ext | no_ext


def hostname_allowed(host: Column, forbidden: tuple[str, ...]) -> Column:
    """F4 as an OR-chain predicate (small blacklist fast path).

    Reference semantics are substring-CONTAINS, not equality
    (constraint/hostname.go:21-25): blacklisting 'facebookcorewwwi.onion'
    also rejects 'www.facebookcorewwwi.onion'.
    """
    bad = F.lit(False)
    for h in forbidden:
        bad = bad | host.contains(h)
    return ~bad


_F4_EXPR_MAX = 64


def apply_hostname_blacklist(
    df: DataFrame, blacklist: DataFrame | list[str] | tuple[str, ...] | None,
    host_col: str = "host",
) -> DataFrame:
    """F4: drop rows whose host CONTAINS any blacklisted hostname.

    list/tuple (or a small DataFrame, collected) → codegen'd OR-chain;
    larger DataFrame → broadcast nested-loop left-anti join (blacklist is
    always the small side — broadcast keeps this shuffle-free).
    """
    if blacklist is None:
        return df
    if isinstance(blacklist, DataFrame):
        # cheap count on the small side only
        hosts = [r[0] for r in blacklist.limit(_F4_EXPR_MAX + 1).collect()]
        if len(hosts) <= _F4_EXPR_MAX:
            blacklist = tuple(hosts)
    if isinstance(blacklist, (list, tuple)):
        if not blacklist:
            return df
        return df.where(hostname_allowed(F.col(host_col), tuple(blacklist)))
    bl = F.broadcast(blacklist.select(F.col("hostname").alias("_bl_hostname")))
    return df.join(
        bl, F.col(host_col).contains(F.col("_bl_hostname")), "left_anti"
    )


# --- the full per-round scheduling pipeline --------------------------------

def schedule_candidates(
    pages: DataFrame,
    config: CrawlConfig,
    seen: DataFrame | None = None,
    blacklist: DataFrame | list[str] | None = None,
    round_ts: Column | None = None,
    body_col: str = "html",
    bloom=None,
) -> DataFrame:
    """One scheduler round: pages → deduplicated new URLs to schedule.

    Returns columns (url, url_hash, host, src_url) — the caller attaches
    depth/priority/round bookkeeping.

    ``seen`` rows: (url_hash long, expires_ts timestamp nullable); a hash
    counts as seen iff expires_ts is null (NoTTL) or > round_ts (D3 TTL
    semantics, cache.go:9-12).  Rejected URLs are never marked seen —
    only survivors reach the caller's seen-append (scheduler_test.go:242-245).
    """
    # X1-X3 + F1-F4: the crawl's kernel; a DataFrame blacklist is applied
    # after it, as ``discover_new_urls`` does
    listed = isinstance(blacklist, (list, tuple))
    cand = extract_filtered_candidates(
        pages.withColumnRenamed("url", "src_url"),
        config,
        forbidden=tuple(blacklist) if listed else (),
        body_col=body_col,
        carry_cols=("src_url",),
    )
    if blacklist is not None and not listed:
        cand = apply_hostname_blacklist(cand, blacklist)

    # D2: in-round dedup (first occurrence wins in the reference; the set
    # is identical under any tie-break)
    cand = cand.dropDuplicates(["url_hash"])

    # D1: exact anti-join vs live seen entries, optionally routed through
    # the sharded Bloom prefilter (only bit hits are compared with seen)
    if seen is not None:
        if round_ts is None:
            round_ts = F.current_timestamp()
        live_seen = seen.where(
            F.col("expires_ts").isNull() | (F.col("expires_ts") > round_ts)
        ).select("url_hash")
        if bloom is not None:
            from .bloom import bloom_anti_join

            cand = bloom_anti_join(cand, live_seen, "url_hash", bloom)
        else:
            cand = cand.join(live_seen, "url_hash", "left_anti")

    return cand.select("url", "url_hash", "host", "src_url")


def trap_filter_col(
    path: Column,
    query: Column,
    max_path_depth: int = 16,
    max_segment_repeat: int = 2,
    max_query_params: int = 8,
) -> Column:
    """Crawler-trap guard (engine addition — the reference crawls traps
    forever): TRUE for candidates that look like an infinite URL space.

    * path depth over ``max_path_depth`` segments (calendar traps,
      unbounded breadcrumb nesting),
    * ``max_segment_repeat`` or more excess (duplicate) segment
      occurrences in the path (link cycles: /a/b/a/b/a/...),
    * more than ``max_query_params`` query parameters (faceted-search /
      session-id explosions).

    Pure column expressions, fully JVM-side (higher-order array
    functions — no Python UDF): at 10^10 candidates per round this
    evaluates inline in the same stage as F1-F4.
    """
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    depth_trap = F.size(segs) > max_path_depth
    repeat_trap = (
        F.size(segs) - F.size(F.array_distinct(segs)) >= max_segment_repeat
    )
    params = F.filter(F.split(query, "&"), lambda s: s != "")
    param_trap = F.size(params) > max_query_params
    return depth_trap | repeat_trap | param_trap
