"""One-off 30x check for l23 (SemDeDup semantic dedup).

HISTORY NOTE (round 8): the k ∝ N shape this script pioneered is now
REGISTRY-NATIVE — `l23b_semantic_dedup_scaled` derives k from COUNT(*)
inside both engines and is driver-hash-checked at sf0.01/30x/100x, and
`l23c_semantic_dedup_collapsed` adds the replica-collapsing composition
(2011 s → 16.6 s at 300x, bit-identical). This tool remains useful for
ad-hoc rungs and for timing the fixed-k quadratic shape below.

The REGISTERED l23 fixes k=8 cells so its sf0.01 oracle stays static;
SemDeDup's own prescription is k proportional to N, which keeps the
per-cell self-join bounded. This script runs BOTH at a scale corpus:

  1. the scale-correct shape (k = 8 * factor), hash-checked against the
     same DuckDB oracle template interpolated at that k — value
     correctness of the full pipeline at scale;
  2. (only with --with-fixed-k) the UNSLICED fixed-k=8 shape, Spark
     side only, timed — the quadratic-total-work configuration
     (60k vectors / 8 cells = 28M pairs PER CELL at 30x). Before
     triangle sub-sharding this never finished inside 30 min; after,
     it measures 219 s at 30x — parallel and bounded per task, but the
     total pair count still grows with (corpus/k)^2, which is exactly
     why SemDeDup grows k with N (the k ∝ N run above is 70-80 s on
     the same corpus). Kept opt-in so the default run is brief.

Usage: SPARK_DRIVER_MEMORY=12g python -u tools/l23_scale_check.py \
           [sf_dir] [n_cells] [--with-fixed-k]
       (defaults /tmp/jh_scale_30x 240; cores from $SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_pos = [a for a in sys.argv[1:] if not a.startswith("--")]
SF_DIR = _pos[0] if _pos else "/tmp/jh_scale_30x"
N_CELLS = int(_pos[1]) if len(_pos) > 1 else 240
WITH_FIXED_K = "--with-fixed-k" in sys.argv

from jobhouse_spark.operators.ann import ivf_fixed_centroids, semantic_dedup  # noqa: E402
from jobhouse_spark.queries.llm_ops_extra import _l23_oracle  # noqa: E402
from jobhouse_spark.session import get_spark  # noqa: E402
from jobhouse_spark.tables import Tables  # noqa: E402
from tests.oracle import compare_frames, duckdb_connect  # noqa: E402


def main() -> None:
    spark = get_spark(app_name="l23_scale_check")
    emb = Tables(spark, SF_DIR).embeddings

    # 1. scale-correct k: hash-check vs the k-interpolated oracle
    t0 = time.perf_counter()
    df = semantic_dedup(emb, ivf_fixed_centroids(11, N_CELLS, 64, 400_000)).orderBy(
        "vec_id"
    )
    pdf = df.toPandas()
    t_spark = time.perf_counter() - t0
    duck = duckdb_connect(SF_DIR)
    t0 = time.perf_counter()
    duck_pdf = duck.execute(_l23_oracle(N_CELLS, id_bound=None)).fetchdf()
    problems = compare_frames(pdf, duck_pdf)
    t_duck = time.perf_counter() - t0
    print(
        f"l23 k={N_CELLS}: {'HASH-MATCH' if not problems else 'FAIL ' + str(problems)} "
        f"({len(pdf)} rows, spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
    )
    if problems:
        sys.exit(1)

    # 2. unsliced fixed-k=8 shape, Spark side only, timed (opt-in)
    if WITH_FIXED_K:
        t0 = time.perf_counter()
        semantic_dedup(emb, ivf_fixed_centroids(11, 8, 64, 400_000)).write.format(
            "noop"
        ).mode("overwrite").save()
        print(f"l23 k=8 (unsliced), spark-only: {time.perf_counter() - t0:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
