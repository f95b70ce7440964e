"""Micro-bench: suite-identical index build + bm25_100q_batch leg,
repeated R times — the attribution protocol behind the round-5
drift analysis in BENCH/BASELINE.md (run it against two checkouts
back-to-back on the same host; a git worktree of the older commit works).

Usage, from a repo checkout root:
    python BENCH/microbench_batch.py <label> [repeats]
"""
import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from openmatch_spark import get_spark  # noqa: E402
from openmatch_spark.fixtures import documents_as_pages, pages_df, queries_df  # noqa: E402
from openmatch_spark.index import build_index, load_index  # noqa: E402
from openmatch_spark.query import search  # noqa: E402

label = sys.argv[1] if len(sys.argv) > 1 else "run"
R = int(sys.argv[2]) if len(sys.argv) > 2 else 3
SF_DIR = "/root/testdata/sf0.1"

spark = get_spark("om-microbench", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")

# same warmup as bench.py
_warm = tempfile.mkdtemp(prefix="om_mb_warm_")
build_index(spark, pages_df(spark, 500), _warm, num_shards=4)
search(load_index(spark, _warm), queries_df(spark, 4), k=10).count()

pages = documents_as_pages(spark, SF_DIR)
idx_dir = tempfile.mkdtemp(prefix="om_mb_idx_")
t0 = time.perf_counter()
build_index(spark, pages, idx_dir, analyzer="dpr", num_shards=8,
            num_term_buckets=16, block_size=128)
t_build = time.perf_counter() - t0
idx = load_index(spark, idx_dir)

vocab_terms = [r["term"] for r in
               idx.dictionary.orderBy(F.desc("df")).limit(500).collect()]
import numpy as np  # noqa: E402

rng = np.random.default_rng(7)
qrows = [(f"q{i}", " ".join(rng.choice(vocab_terms, size=rng.integers(1, 5))))
         for i in range(100)]
queries = spark.createDataFrame(qrows, "query_id string, text string")

out = {"label": label, "build": round(t_build, 3), "batch": []}
for _ in range(R):
    t0 = time.perf_counter()
    search(idx, queries, k=100).count()
    out["batch"].append(round(time.perf_counter() - t0, 3))

print("MICROBENCH " + json.dumps(out))
spark.stop()
