"""Extra measurement harness for the optimization round (guide §1).

NOT part of the frozen driver contract — bench.py stays the measured
surface.  This tool isolates individual queries with the noop sink and
captures formatted plans.  For the crawl round's per-stage cost run
``python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 20
--trace 1``, which reports ``write.<table>.{s,jobs,rows,bytes}`` for
every stage write.

Usage:
  python bench_extra.py time  <query> [reps=3]     # noop-sink timing
  python bench_extra.py plan  <query> [out.txt]    # explain("formatted")
  python bench_extra.py sweep <q1> <q2> ...        # one warm session, all

Env mirrors bench.py: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_BENCH_CPUS (default 8).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_BENCH_CPUS", "8"))


def _session():
    from bathyscaphe_spark.session import build_session

    return build_session(
        app_name=f"bench-extra-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_time(names: list[str], reps: int = 3) -> None:
    from bathyscaphe_spark.queries import QUERIES

    spark = _session()
    # warm the python-worker pool once (constant, not query work)
    spark.range(100).toDF("id").mapInPandas(lambda it: it, "id long").count()
    out = {}
    for name in names:
        ts = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.perf_counter()
            _noop(QUERIES[name](spark, SF_DIR))
            ts.append(round(time.perf_counter() - t0, 3))
        out[name] = {"samples": ts, "min": min(ts)}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()


def cmd_plan(name: str, out_path: str | None) -> None:
    from bathyscaphe_spark.queries import QUERIES

    spark = _session()
    df = QUERIES[name](spark, SF_DIR)
    txt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    if out_path:
        Path(out_path).write_text(txt)
        print(f"wrote {out_path} ({len(txt)} chars)")
    else:
        print(txt)
    spark.stop()


def cmd_plans(names: list[str], suffix: str) -> None:
    """Dump explain('formatted') for several queries into plans/r06/."""
    from bathyscaphe_spark.queries import QUERIES

    spark = _session()
    out_dir = Path(__file__).resolve().parent / "plans" / "r06"
    out_dir.mkdir(parents=True, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        txt = df._jdf.queryExecution().explainString(mode)
        p = out_dir / f"{name}_{suffix}.txt"
        p.write_text(txt)
        print(f"wrote {p} ({len(txt)} chars)", flush=True)
    spark.stop()


def main() -> None:
    cmd = sys.argv[1]
    if cmd == "time":
        cmd_time([sys.argv[2]], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif cmd == "sweep":
        cmd_time(sys.argv[2:], 3)
    elif cmd == "plan":
        cmd_plan(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    elif cmd == "plans":
        cmd_plans(sys.argv[3:], sys.argv[2])
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
