"""Build a 10x scale-up of the sf0.1 testdata for BENCHMARKING only
(an sf1-equivalent decade: ~6M lineitem rows), since the driver ships
sf{0.001,0.01,0.1} but the scaling story needs one more point where
data finally dominates fixed overhead.

NOT correctness data — the oracle gate keeps using the driver's
parquet untouched. Scaling model: each replica r in 0..9 is a
DISJOINT key universe (every surrogate key shifts by r * (max_key+1),
foreign keys shift consistently), so join fan-out, aggregate
cardinality, and shuffle volume all scale 10x the way genuinely new
data would. The fixed dims (region, nation) stay fixed, as at any SF.
Document text rotates word-wise per replica (same length/vocab
statistics, mostly disjoint shingle sets) so dedup workloads see
plausible new documents rather than 10 exact copies of the corpus.

Usage:  python tools/make_scale_data.py [--src SRC_DIR] [out_dir] [replicas]
        default src: the sf0.1 testdata directory (``SRC`` below)
        default out: benchmarks/data/sf1  (gitignored)

A source directory without parquet files (an unpopulated SF dir) stops
the script before Spark starts, with one message and exit status 2.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SRC = "/root/testdata/sf0.1"

#: table -> {column: key_space} ; columns sharing a key space shift by
#: the same base so referential integrity survives replication.
KEYED = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "evt", "user_id": "cust"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
FIXED_DIMS = ["region", "nation"]
#: files per output table — enough splits that a 32-core local scan
#: parallelizes without a repartition crutch in the queries. The
#: text/vector tables need as many splits as the big facts: shingle
#: explosion and per-vector math make documents/embeddings the
#: heaviest PER-ROW tables in the pipeline queries (a 4-file layout
#: capped those stages at 4 cores and looked like a hang at sf1).
OUT_FILES = {
    "lineitem": 16,
    "orders": 8,
    "events": 8,
    "documents": 16,
    "embeddings": 8,
    "customer": 8,
    "part": 8,
}


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description="Replicate an SF testdata dir 10x.")
    ap.add_argument("out_dir", nargs="?", default=str(REPO / "benchmarks" / "data" / "sf1"))
    ap.add_argument("replicas", nargs="?", type=int, default=10)
    ap.add_argument("--src", default=SRC, help=f"source SF directory (default {SRC})")
    args = ap.parse_args(argv)
    src = args.src
    if not any(pathlib.Path(src).glob("*.parquet")):
        print(f"make_scale_data: no parquet files in {src}", file=sys.stderr)
        return 2
    out_dir = pathlib.Path(args.out_dir)
    replicas = args.replicas

    import pyspark.sql.functions as F

    from protarrow_spark.session import get_spark

    spark = get_spark("make-scale-data", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 16)))
    out_dir.mkdir(parents=True, exist_ok=True)

    # one base per key space: max over every column that uses it, +1
    bases: dict[str, int] = {}
    for tbl, cols in KEYED.items():
        df = spark.read.parquet(f"{src}/{tbl}.parquet")
        for col, space in cols.items():
            mx = df.agg(F.max(col)).collect()[0][0]
            bases[space] = max(bases.get(space, 0), int(mx) + 1)
    print("key bases:", bases)

    for tbl in FIXED_DIMS:
        shutil.copy(f"{src}/{tbl}.parquet", out_dir / f"{tbl}.parquet")
        print(f"copied {tbl}")

    for tbl, cols in KEYED.items():
        df = spark.read.parquet(f"{src}/{tbl}.parquet")
        parts = []
        for r in range(replicas):
            rep = df
            for col, space in cols.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(r * bases[space]))
            if tbl == "documents" and r > 0:
                # rotate the word sequence by r*7 positions: same
                # length + vocabulary, different shingles
                words = F.split(F.col("text"), " ")
                k = F.lit(r * 7) % F.greatest(F.size(words), F.lit(1))
                rotated = F.concat(
                    F.slice(words, k + 1, F.size(words)),
                    F.slice(words, F.lit(1), k),
                )
                rep = rep.withColumn("text", F.array_join(rotated, " "))
            parts.append(rep)
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        n_files = OUT_FILES.get(tbl, 4)
        target = str(out_dir / f"{tbl}.parquet")
        union.repartition(n_files).write.mode("overwrite").parquet(target)
        print(f"wrote {tbl} x{replicas} -> {target}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
