"""Per-query A/B wall time of registry queries between two checkouts.

    python scripts/ab_queries.py --roots <parent_dir> <change_dir> \
        --sf <scale_factor_dir> --rounds 5 [--queries q1,q2,...]

Each round starts one fresh Spark process per checkout, alternating which
checkout goes first (AB, BA, AB, ...). A process imports the package from
its checkout, runs every named query once into a `noop` sink to warm up,
then times one more run of each. The report is one JSON line with, per
query and checkout, the median wall over the rounds and the quartiles.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import numpy as np

CONVERTED = [
    "dedup_boxes_keep_first",
    "minhash_signatures_docs",
    "lsh_candidate_pairs_docs",
    "ngram_jaccard_pairs",
    "dedup_keepers_docs",
    "dedup_keepers_cc_docs",
    "containment_dedup_pairs",
    "doc_repetition_stats",
    "passage_dedup_spans",
    "training_corpus_keepers",
    "simhash_docs",
    "ann_lsh_topk",
    "ann_lsh_multitable_topk",
    "ann_ivf_topk",
    "lang_id_docs",
    "quality_score_docs",
    "gopher_quality_docs",
    "badword_fraction_docs",
    "bm25_topk_docs",
    "search_match_docs",
    "media_image_metadata",
    "media_image_metadata_mixed",
    "media_audio_features",
    "media_video_frames",
    "pdf_extract_spans",
    "table_cells_from_media",
    "table_html_from_media",
]


def _worker(root: str, sf: str, names: list[str], cores: int) -> None:
    sys.path.insert(0, root)
    os.chdir(root)
    from ms_ocr_spark import queries as Q
    from ms_ocr_spark.plans.cache import release_all
    from ms_ocr_spark.session import get_spark

    spark = get_spark(app="ab_queries", cores=cores)
    reg = Q.queries()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        reg[name](spark, sf).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        release_all()
        return wall

    for name in names:
        run(name)
    print(json.dumps({name: run(name) for name in names}))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--roots", nargs=2)
    ap.add_argument("--sf", required=True)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--cores", type=int, default=2)
    ap.add_argument("--queries", default=",".join(CONVERTED))
    ap.add_argument("--worker")
    a = ap.parse_args()
    names = a.queries.split(",")
    if a.worker:
        _worker(a.worker, a.sf, names, a.cores)
        return
    walls: dict[str, dict[str, list[float]]] = {r: {n: [] for n in names} for r in a.roots}
    for rnd in range(a.rounds):
        for root in a.roots if rnd % 2 == 0 else a.roots[::-1]:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", root, "--sf", a.sf,
                 "--cores", str(a.cores), "--queries", a.queries],
                capture_output=True, text=True, check=True,
            ).stdout.strip().splitlines()[-1]
            for n, w in json.loads(out).items():
                walls[root][n].append(w)
            print(f"round {rnd} {root} done", file=sys.stderr, flush=True)
    report = {
        n: {
            r: {
                "median": float(np.median(walls[r][n])),
                "q1": float(np.percentile(walls[r][n], 25)),
                "q3": float(np.percentile(walls[r][n], 75)),
                "runs": walls[r][n],
            }
            for r in a.roots
        }
        for n in names
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
