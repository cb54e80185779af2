"""Stage-level profiling of the segment build at a given local[N].

Usage: python tools/profile_build.py CPUS [ROWS] [WORK_DIR]

Generates ROWS (default 20,000) rows of the ``fugu_spark.corpus``
generator, then times stage 1 (tokenize + postings write), stage 2
(``encode_postings_df``) and stage 3 (dictionary merge) separately on
local[CPUS]. Prints one JSON line.
"""

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers import the engine too
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

from fugu_spark.corpus import generate_corpus
from fugu_spark.postings import build_postings
from fugu_spark.segments import encode_postings_df, merge_dictionary
from fugu_spark.session import get_spark
from pyspark.sql import functions as F


def main(cpus: int, rows: int, work: str):
    spark = get_spark(app_name=f"profile_{cpus}", master=f"local[{cpus}]")
    base = os.path.join(work, f"fugu_profile_{cpus}")
    shutil.rmtree(base, ignore_errors=True)
    t = {}
    t0 = time.time()
    generate_corpus(spark, rows).withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    ).write.mode("overwrite").parquet(f"{base}/corpus")
    t["corpus_gen"] = time.time() - t0
    docs = spark.read.parquet(f"{base}/corpus")
    if docs.rdd.getNumPartitions() < cpus:
        docs = docs.repartition(cpus)

    t0 = time.time()
    raw = build_postings(
        docs, id_col="doc_id", text_col="content", encode_positions=True
    ).withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(32)).cast("int")
    )
    raw.write.mode("overwrite").parquet(f"{base}/postings_raw")
    t["stage1_postings"] = time.time() - t0

    raw = spark.read.parquet(f"{base}/postings_raw")
    t0 = time.time()
    n_post = raw.count()
    t["count"] = time.time() - t0

    t0 = time.time()
    encode_postings_df(raw, f"{base}/segments", 250_000, gen=0, append=False)
    t["stage2_encode"] = time.time() - t0

    t0 = time.time()
    merge_dictionary(spark, f"{base}/segments", f"{base}/terms")
    t["stage3_dict"] = time.time() - t0

    total = sum(v for k, v in t.items() if k != "corpus_gen")
    print(json.dumps({"cpus": cpus, "rows": rows, "n_postings": n_post,
                      "postings_per_sec": n_post / total, **{k: round(v, 2) for k, v in t.items()}}))
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main(
        int(sys.argv[1]),
        int(sys.argv[2]) if len(sys.argv) > 2 else 20000,
        sys.argv[3] if len(sys.argv) > 3 else tempfile.gettempdir(),
    )
