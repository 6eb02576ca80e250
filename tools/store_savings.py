"""Per-entry saving of the persistent artifact/tier store (store.py):
what each of its entries costs on an empty store and on a warm one.

Usage: python tools/store_savings.py --sf-dir DIR

The store moves to a private temp root (removed at exit). For each
of the SAMPLES samples and each entry, in turn: ``store.clear()``,
one timed first use (cold: the build, the write and, for a tier, the
read-back, plus any lower entry the builder reads, as on a fresh
deployment), then one timed second use (warm: what every later
caller pays). Artifacts and tiers are timed at their accessor;
``kmeans_cents1`` and ``v1_band_index`` have none, so their consumer
query runs through a noop sink. Prints one line per entry: cold and
warm median [Q1, Q3] and the saving, which is flagged when it does not
exceed the larger of the two interquartile ranges.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SAMPLES = 7


def _entries():
    """(store name, first use) for every entry: the seven artifacts,
    then the nine tiers."""
    from parquet_extractor_spark.operators import (
        classifier,
        contamination,
        dedup,
        multimodal,
        selection,
        similarity,
        versioning,
    )

    def query(fn):
        return lambda spark, sf: fn(spark, sf).write.format("noop").mode(
            "overwrite"
        ).save()

    return [
        ("head_vectors", similarity._head_vectors),
        ("sq8_minmax", similarity._dim_ranges),
        ("logreg_train", classifier._train),
        ("bloom_bitset", contamination.build_bloom_bitset),
        ("lm_counts", selection.lm_count_arrays),
        ("refined_pq_books", similarity.refined_pq_books),
        ("kmeans_cents1", query(similarity.kmeans_refine)),
        ("exact_keep", dedup._exact_keep_tier),
        ("lsh_pairs", dedup._lsh_pairs_tier),
        ("components", dedup._components_tier),
        ("pair_overlap", dedup._pair_overlap_tier),
        ("ngram_pairs", dedup._ngram_pairs_tier),
        ("v1_band_index", query(versioning.incremental_dedup_candidates)),
        ("image_phashes", lambda spark, sf: multimodal._phash_tier(spark)),
        ("audio_fingerprints", lambda spark, sf: multimodal._afp_tier(spark)),
        ("animation_phashes", lambda spark, sf: multimodal._anim_tier(spark)),
    ]


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    root = tempfile.mkdtemp(prefix="spark-graft-store-savings-")
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = root
    from parquet_extractor_spark import store
    from parquet_extractor_spark.session import get_spark, release_cached
    from parquet_extractor_spark.sources.tables import load_table

    try:
        spark = get_spark("store-savings")
        for t in ("documents", "embeddings"):
            load_table(spark, args.sf_dir, t).count()
        entries = _entries()
        times = {name: ([], []) for name, _ in entries}
        for _ in range(SAMPLES):
            for name, use in entries:
                store.clear()
                for side in times[name]:
                    t0 = time.perf_counter()
                    use(spark, args.sf_dir)
                    side.append(time.perf_counter() - t0)
                release_cached(spark)
        print(f"# sf_dir={args.sf_dir} samples={SAMPLES} "
              f"cpus={spark.sparkContext.defaultParallelism}")
        for name, (cold, warm) in times.items():
            (cm, c1, c3), (wm, w1, w3) = _quartiles(cold), _quartiles(warm)
            saving = cm - wm
            flag = "" if saving > max(c3 - c1, w3 - w1) else "  INSIDE SPREAD"
            print(f"{name:20s} cold {cm:.4f} [{c1:.4f}, {c3:.4f}]  "
                  f"warm {wm:.4f} [{w1:.4f}, {w3:.4f}]  "
                  f"saving {saving:.4f}{flag}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
