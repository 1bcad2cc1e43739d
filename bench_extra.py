#!/usr/bin/env python
"""Round-7 optimization measurement harness (guide §1). NOT the driver bench:
``bench.py`` stays frozen; this file exists to isolate per-query costs with
the noop sink, repeat runs warm, and dump ``.explain("formatted")`` plans.

Usage:
  python bench_extra.py                 # time headline queries (cold + warm)
  python bench_extra.py --plans DIR     # write <q>.txt formatted plans to DIR
  python bench_extra.py --stages        # kg_pipeline stage isolation
  python bench_extra.py --queries a,b   # restrict to named queries
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

HEADS = [
    "pricing_summary",
    "join_customer_order_nation",
    "anti_customers_no_orders",
    "count_distinct_events",
    "tc_nations",
    "cc_users",
    "dedup_minhash",
    "dedup_exact",
    "text_quality",
    "knn_cosine",
    "kg_extract",
    "kg_mentions",
    "kg_materialized",
]


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from nemo_spark.session import get_spark

    spark = get_spark(app_name="nemo_spark_bench_extra")
    qmap = entrymod.queries()
    names = HEADS
    if "--queries" in sys.argv:
        names = sys.argv[sys.argv.index("--queries") + 1].split(",")

    if "--plans" in sys.argv:
        outdir = sys.argv[sys.argv.index("--plans") + 1]
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            df = qmap[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(plan)
            print(f"wrote {name}")
        spark.stop()
        return

    if "--stages" in sys.argv:
        from nemo_spark.kg.pipeline import materialized_triples, run_pipeline
        from nemo_spark.kg.transcripts import synth_transcripts

        n = int(os.environ.get("SPARK_GRAFT_STAGE_TURNS", "2000000"))
        # warm-up (matches bench.py)
        res = run_pipeline(spark, synth_transcripts(spark, 20_000))
        materialized_triples(res).count()
        sc = spark.sparkContext
        for trial in range(int(os.environ.get("SPARK_GRAFT_TRIALS", "2"))):
            tr = synth_transcripts(spark, n)
            t0 = time.time()
            sc.setJobDescription("kg: full pipeline")
            res = run_pipeline(spark, tr)
            nt = materialized_triples(res).count()
            full = time.time() - t0
            # isolate: extractor only (noop over the raw features)
            t0 = time.time()
            sc.setJobDescription("kg: extract only (noop)")
            from nemo_spark.kg.extract import extract_turn_features_arrow

            noop(extract_turn_features_arrow(tr))
            ext = time.time() - t0
            # isolate: synth + alias-distinct only (the triples reduction input)
            t0 = time.time()
            sc.setJobDescription("kg: synth only (noop)")
            noop(tr)
            synth_only = time.time() - t0
            print(
                json.dumps(
                    {
                        "trial": trial,
                        "full_sec": round(full, 3),
                        "extract_noop_sec": round(ext, 3),
                        "synth_noop_sec": round(synth_only, 3),
                        "stage_metrics": {
                            k: v for k, v in res.metrics.items() if isinstance(v, dict)
                        },
                        "triples": nt,
                    },
                    default=str,
                )
            )
        spark.stop()
        return

    reps = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
    out: dict[str, list[float]] = {}
    for name in names:
        times = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name} [{r}]")
            t0 = time.time()
            noop(qmap[name](spark, sf_dir))
            times.append(round(time.time() - t0, 3))
        out[name] = times
        print(name, times, flush=True)
    print(json.dumps({"queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
