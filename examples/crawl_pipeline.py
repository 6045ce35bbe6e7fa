#!/usr/bin/env python
"""End-to-end web-crawl curation — the Common Crawl shape, WARC to
training shards (plans/curate.py, also exposed as `cli curate`):

  WARC archives -> HTTP header strip -> HTML-to-text -> quality gate
  -> eval-suite decontamination (persistent gram dictionary)
  -> incremental MinHash dedup against a persistent corpus index
  -> mixture rebalance -> PII redaction -> sequence packing
  -> shard manifest -> JSONL.gz export

  python examples/crawl_pipeline.py [workdir]

The script synthesizes a small crawl fixture (two WARC archives, one
gzipped) so it runs self-contained, then runs TWO curation drops through
the same workdir — the second drop's documents are near-copies of the
first's, so the persistent index dedups them away, demonstrating the
cross-drop contract a production pipeline relies on.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
# Python UDF workers don't inherit the driver's sys.path — propagate the
# repo root through the environment so mapInPandas stages import cleanly
# when this script runs from any cwd (local mode spawns workers with the
# driver's env).
import os  # noqa: E402

_root = str(Path(__file__).resolve().parent.parent)
os.environ["PYTHONPATH"] = _root + (
    os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
)


def run(spark, workdir: str):
    import json

    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    crawl = f"{workdir}/crawl_drop1"
    text_source.synthetic_warc_html_fixture(crawl, n=48)
    # a one-document "benchmark suite" for the decontamination stage —
    # its 8-grams are shingled ONCE and persisted at {workdir}/eval_grams
    suite = Path(workdir) / "eval_suite"
    suite.mkdir(parents=True, exist_ok=True)
    (suite / "bench.jsonl").write_text(
        json.dumps({
            "doc_id": 0,
            "text": "held out benchmark question text that must never "
                    "reach a training corpus in any form",
            "lang": "en",
        })
    )
    # drop 1 also exercises the two quality gates a production pipeline
    # fronts the dedup with: a domain blocklist (cheapest gate, runs
    # first — a blocked site never pays per-document work) and the
    # CCNet-style perplexity gate, whose unigram model persists at
    # lm_model so later drops score under the SAME model. The blocked
    # domain here isn't in the fixture, so the stage is a no-op pass
    # (after_blocklist == extracted) — swap in "crawl.example" to watch
    # it empty the drop.
    stats1 = curate_crawl(
        spark,
        crawl,
        workdir,
        domain_blocklist=["spam-farm.example"],
        lm_max_xent=10**9,  # permissive cut; tighten to actually filter
        lm_model=f"{workdir}/lm_model",
        eval_suite=str(suite),  # drop docs containing benchmark 8-grams
        pii_redact=True,  # scrub emails/IPs from the exported text
    )
    print("drop 1:", stats1)

    # drop 2 re-crawls the same pages (same record ids -> same content):
    # the persistent index recognizes every document
    crawl2 = f"{workdir}/crawl_drop2"
    text_source.synthetic_warc_html_fixture(crawl2, n=48)
    stats2 = curate_crawl(
        spark,
        crawl2,
        workdir,
        domain_blocklist=["spam-farm.example"],
        lm_max_xent=10**9,
        lm_model=f"{workdir}/lm_model",  # loaded, not retrained
        eval_suite=str(suite),  # dictionary loaded from eval_grams
        pii_redact=True,
    )
    print("drop 2:", stats2)

    # lifecycle: each drop folds into the index as one small increment
    # (mh_index/*_inc/ingest_batch=<drop tag>); compaction folds the
    # increments into the pfx-clustered base (crash-safe swap)
    from ct_mapreduce_spark.operators.dedup_fuzzy import minhash_index_compact

    files = minhash_index_compact(spark, f"{workdir}/mh_index")
    print("index compaction (files before -> after):", files)
    return stats1, stats2


def main() -> int:
    from ct_mapreduce_spark.session import get_spark

    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(
        prefix="ctspark_crawl_"
    )
    spark = get_spark("crawl-pipeline")
    run(spark, workdir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
