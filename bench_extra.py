"""Round-7 measurement harness (bench.py is FROZEN for the driver; this
file holds the builder's own instrumentation — guide §1.1/§1.4/§1.5).

Same methodology as bench.py (noop sink, wall-clock per query), plus:
  --queries a,b,c   subset to time (default: all REGISTRY queries)
  --repeats N       repeat each query N times, report all + min (default 1)
  --sf DIR          data dir (default $SPARK_GRAFT_SF_DIR or sf0.1)
  --ui              enable the Spark UI and dump per-stage metrics
                    (time, shuffle bytes, input bytes) after each query
                    via the REST API — the stage-level breakdown the
                    optimization log cites.

Prints one JSON line per query and a final summary line.  Each query's
line carries, per sample, the classes whole-stage codegen compiled
(``compiles``) and the seconds janino spent on them (``compile_s``): a
warm repeat whose classes are still in the codegen cache compiles none.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _stages(ui_url: str, seen: set[int]) -> list[dict]:
    try:
        with urllib.request.urlopen(f"{ui_url}/api/v1/applications") as r:
            apps = json.load(r)
        app_id = apps[0]["id"]
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            stages = json.load(r)
    except Exception as e:  # UI off or racing — metrics are best-effort
        print(f"# stage fetch failed: {e}", file=sys.stderr)
        return []
    out = []
    for s in stages:
        sid = s["stageId"]
        if sid in seen:
            continue
        seen.add(sid)
        out.append(
            {
                "stage": sid,
                "name": s["name"].split("\n")[0][:80],
                "tasks": s["numCompleteTasks"],
                "ms": s.get("executorRunTime", 0),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "spill_mb": round(s.get("diskBytesSpilled", 0) / 1e6, 1),
            }
        )
    return sorted(out, key=lambda x: -x["ms"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--ui", action="store_true")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from audio_quality_checker_spark.entry_queries import REGISTRY
    from audio_quality_checker_spark.session import get_spark

    extra = {"spark.ui.enabled": "true"} if args.ui else None
    spark = get_spark(app_name="aqcs-bench-extra", cores=cpus,
                      shuffle_partitions=2 * cpus, extra_conf=extra)
    ui_url = spark.sparkContext.uiWebUrl if args.ui else None

    # same warmup as bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import pandas as _pd

    def _noop(batches):
        for b in batches:
            yield _pd.DataFrame({"id": b["id"]})

    spark.range(0, 10_000, 1, cpus).mapInPandas(
        _noop, schema="id long").write.mode("overwrite").format("noop").save()
    for t in ("documents", "lineitem", "events", "embeddings", "orders"):
        spark.read.parquet(f"{args.sf}/{t}.parquet").limit(100).collect()

    names = [n for n in args.queries.split(",") if n] or list(REGISTRY)
    seen_stages: set[int] = set()
    if args.ui:
        _stages(ui_url, seen_stages)  # swallow warmup stages

    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    totals: dict[str, float] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        samples, compiles, compile_s = [], [], []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            c0, ns0 = compiled.getCount(), codegen.compileTime()
            t0 = time.time()
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
            samples.append(round(time.time() - t0, 3))
            compiles.append(compiled.getCount() - c0)
            compile_s.append(round((codegen.compileTime() - ns0) / 1e9, 3))
            spark.sparkContext.setJobDescription(None)
            if args.ui:
                st = _stages(ui_url, seen_stages)
                if i == 0:
                    for s in st[:12]:
                        print(f"#   {json.dumps(s)}")
        totals[name] = min(samples)
        print(json.dumps({"query": name, "samples": samples,
                          "min": min(samples), "compiles": compiles,
                          "compile_s": compile_s}), flush=True)

    print(json.dumps({"metric": "bench_extra_total_min",
                      "value": round(sum(totals.values()), 3),
                      "queries": totals, "sf_dir": args.sf,
                      "repeats": args.repeats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
