"""r13 barrier-strategy scale record (VERDICT r12 #6).

sf0.1 (~17 MB total input) is per-job-overhead-bound on local[32] —
core-count ratios there say nothing about the barrier rewrites' 100 TB
claims. This tool measures the ~20 barrier-bearing hot queries on the
shape-matched GENERATED corpora (tools/gen_scale_data.py) at x10
(50k docs / 20k vecs) and x100 (500k docs / 200k vecs), in ONE session
per core count, with the bench's noop-sink min-of-2 protocol and plan
digests — so the committed record carries:

- per-query wall at x10 / x100 per core count (8 vs 32 ratios: a
  ratio >> 1 at x100 means the query is compute-bound at that size,
  i.e. the plan parallelizes; ~1 means still overhead-bound);
- optional interleaved seam A/B rows (--ab: both shapes of each
  dual-shape query from sarkac_spark.queries.ab_seams, alternating in
  THIS process so the box's session drift cancels) — the crossover
  evidence for the dedup_minhash size gate.

One invocation = one core count (the session master is fixed at
creation; run again with SPARK_GRAFT_CPUS=8 and merge):

    SPARK_GRAFT_CPUS=32 python tools/bench_scale_r13.py --ab \
        --out BENCH_SCALE_R13_c32.json
    SPARK_GRAFT_CPUS=8 python tools/bench_scale_r13.py \
        --out BENCH_SCALE_R13_c8.json

No caching across runs: every timing calls the registered query
factory fresh against the generated parquet dirs.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

# barrier-bearing hot set (documents/embeddings-backed — the generator
# only produces those tables): the wave-1/3/4/5 barrier sites, the
# IVF-PQ queries, the sketch-aggregate proxies, and the
# graph/clusters family (VERDICT r12 #7 profiling).
QUERIES = [
    "dedup_minhash", "dedup_simhash", "minhash_recall", "decontamination",
    "winnow_pairs", "duplicate_spans", "remove_duplicate_spans",
    "remove_duplicate_spans_fp", "curation_funnel", "text_ivfpq",
    "ivfpq_topk", "cms_term_counts", "hll_distinct", "bloom_vocab",
    "corpus_overlap", "ngram_jaccard", "dedup_phash", "dedup_audio",
    "dedup_video", "dedup_clusters", "dedup_canonical",
]


def main() -> int:
    args = sys.argv[1:]
    out_path = "BENCH_SCALE_R13.json"
    mults = [10, 100]
    runs = 2
    do_ab = "--ab" in args
    only = None
    if "--out" in args:
        out_path = args[args.index("--out") + 1]
    if "--mults" in args:
        mults = [int(x) for x in args[args.index("--mults") + 1].split(",")]
    if "--runs" in args:
        runs = int(args[args.index("--runs") + 1])
    if "--queries" in args:
        only = set(args[args.index("--queries") + 1].split(","))
    ab_rounds = max(runs, 3)
    if "--ab-rounds" in args:
        ab_rounds = int(args[args.index("--ab-rounds") + 1])

    from gen_scale_data import generate

    dirs = {}
    for m in mults:
        d = f"scale_data/x{m}"
        generate(d, m)
        dirs[m] = d

    import __spark_entry__ as entry
    from sarkac_spark.plans import plan_digest
    from sarkac_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = get_spark("bench_scale_r13")
    qs = entry.queries()
    names = [n for n in QUERIES if (only is None or n in only)]

    # warm-up (JIT/codegen) on the smallest corpus
    qs[names[0]](spark, dirs[mults[0]]).write.format("noop").mode("overwrite").save()

    out: dict = {"cpus": int(cpus), "mults": mults, "runs": runs, "queries": {}}
    for name in names:
        row: dict = {}
        for m in mults:
            spark.sparkContext.setJobDescription(f"scale_r13 {name} x{m}")
            best = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                qs[name](spark, dirs[m]).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            row[f"x{m}_sec"] = round(best, 3)
            try:
                row[f"x{m}_digest"] = plan_digest(qs[name](spark, dirs[m]))
            except Exception:  # noqa: BLE001
                pass
        if len(mults) == 2 and row.get(f"x{mults[0]}_sec"):
            row["decade_ratio"] = round(
                row[f"x{mults[1]}_sec"] / row[f"x{mults[0]}_sec"], 2
            )
        out["queries"][name] = row
        print(f"{name}: {row}", file=sys.stderr)

    if do_ab:
        from sarkac_spark.queries.ab_seams import ab_variants

        out["ab"] = {}
        for m in mults:
            rows = {}
            for name, variants in ab_variants().items():
                best = {v: float("inf") for v in variants}
                for _ in range(ab_rounds):
                    for v, fn in variants.items():
                        spark.sparkContext.setJobDescription(
                            f"scale_r13 ab {name}:{v} x{m}"
                        )
                        t0 = time.perf_counter()
                        fn(spark, dirs[m]).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        best[v] = min(best[v], time.perf_counter() - t0)
                rows[name] = {v: round(s, 3) for v, s in best.items()}
                print(f"ab x{m} {name}: {rows[name]}", file=sys.stderr)
            out["ab"][f"x{m}"] = rows

    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"out": out_path, "cpus": int(cpus)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
