"""`llm_data`: the LLM-data path, which runs no CT code. Each loop step
curates one seeded crawl drop with `curate_crawl` into one workdir
(decontamination against an eval suite and PII redaction on), then
serves top-k query batches against an IVF-PQ index with exact re-rank
and appends new vectors to it, with no compaction.

The two halves share no layer: the drop runs `text_source`, `text`,
`lm`, `dedup_fuzzy`, `packing` and `plans.curate`; the ANN calls run
`operators.similarity` alone. The per-layer metrics of a traced run
keep their costs apart. They share one workload because a full
measurement has room for three workloads, not four (README)."""

from __future__ import annotations

import glob
import gzip
import json
import os
import statistics

from perfbench.gen import CrawlStream, VectorStream
from perfbench.wl_ct import tree_size

DROP_DOCS = 40  # pages per crawl drop
BASE_VECS = 2000
APPEND_VECS = 1000
QUERIES = 64  # query vectors per top-k batch
TOPK_PER_STEP = 1  # top-k batches per drop
K = 10
N_PROBE = 4
RERANK_FACTOR = 4
# the perplexity gate's limit, in micro-nats per token: far above the
# cross-entropy of any generated page, so the gate scores every page and
# drops none
LM_MAX_XENT = 20_000_000


def exported_texts(workdir: str, tag: str) -> list[str]:
    out = []
    for p in sorted(glob.glob(os.path.join(workdir, "export", f"drop={tag}", "*.gz"))):
        with gzip.open(p, "rt") as f:
            out += [json.loads(line)["text"] for line in f]
    return out


class LlmData:
    def generate(self, b) -> None:
        self.crawl = CrawlStream(b.seed)
        self.suite = b.path("eval_suite")
        self.crawl.eval_suite(self.suite)
        self.n_drops = 0
        self.vecs = VectorStream(b.seed)
        self.corpus = b.path("corpus")
        os.makedirs(self.corpus)
        self.vecs.vectors(BASE_VECS, os.path.join(self.corpus, "v0000.parquet"))
        self.n_files = 1
        self.n_batches = 0
        self.hits = self.wanted = 0
        self.seen: set[str] = set()
        self.stage_ms: dict[str, list[float]] = {}
        self.fixed_point = None

    def setup(self, b, state_dir: str) -> None:
        """The IVF-PQ index over the base vectors; the curate workdir
        starts empty."""
        from ct_mapreduce_spark.operators.similarity import pq_ivf_build_index

        self.index = os.path.join(state_dir, "index")
        self.workdir = os.path.join(state_dir, "work")
        pq_ivf_build_index(b.spark.read.parquet(self.corpus), self.index)

    # --- curate ------------------------------------------------------------

    def _drop(self, b) -> bool:
        from ct_mapreduce_spark.plans.curate import curate_crawl

        drop_dir = b.path("drops", f"d{self.n_drops}")
        self.n_drops += 1
        self.crawl.drop(DROP_DOCS, drop_dir)

        def run() -> bool:
            with b.span("plans.curate.curate_crawl"):
                stats = curate_crawl(
                    b.spark,
                    drop_dir,
                    self.workdir,
                    lm_max_xent=LM_MAX_XENT,
                    lm_model=os.path.join(self.workdir, "lm_model"),
                    eval_suite=self.suite,
                    pii_redact=True,
                )
            if b.tracing:
                for stage, s in stats["stage_walls"].items():
                    self.stage_ms.setdefault(stage, []).append(s * 1e3)
            texts = exported_texts(self.workdir, stats["drop_tag"])
            # no page whose text this or an earlier drop exported may be
            # exported again; verbatim copies of earlier pages are planted
            ok = len(set(texts)) == len(texts) and not self.seen.intersection(texts)
            self.seen.update(texts)
            return ok

        return b.op("drop", run)

    # --- ANN ---------------------------------------------------------------

    def _topk(self, b) -> bool:
        from ct_mapreduce_spark.operators.similarity import pq_ivf_topk_indexed

        qpath = b.path("queries", f"q{self.n_batches}.parquet")
        os.makedirs(os.path.dirname(qpath), exist_ok=True)
        q = self.vecs.queries(QUERIES, qpath)
        self.n_batches += 1
        exact = self.vecs.exact_topk(q, K)

        def run() -> bool:
            with b.span("operators.similarity.pq_ivf_topk_indexed"):
                rows = pq_ivf_topk_indexed(
                    b.spark,
                    self.index,
                    b.spark.read.parquet(qpath),
                    k=K,
                    n_probe=N_PROBE,
                    rerank_corpus=b.spark.read.parquet(self.corpus),
                    rerank_factor=RERANK_FACTOR,
                ).collect()
            got: dict[int, set[int]] = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            self.wanted += QUERIES * K
            self.hits += sum(len(got.get(i, set()) & exact[i]) for i in range(QUERIES))
            return len(got) == QUERIES and all(len(v) == K for v in got.values())

        return b.op("topk", run)

    def _append(self, b) -> bool:
        from ct_mapreduce_spark.operators.similarity import pq_ivf_index_append

        path = os.path.join(self.corpus, f"v{self.n_files:04d}.parquet")
        self.n_files += 1
        staged = b.path("staged.parquet")
        self.vecs.vectors(APPEND_VECS, staged)

        def run() -> bool:
            with b.span("operators.similarity.pq_ivf_index_append"):
                pq_ivf_index_append(b.spark.read.parquet(staged), self.index)
            return True

        ok = b.op("append", run)
        # the re-rank corpus gains the vectors once the index has them
        os.replace(staged, path)
        return ok

    # --- the loop ----------------------------------------------------------

    def warmup(self, b) -> None:
        """The first drop builds the MinHash index, the perplexity model
        and the eval-gram dictionary, so the loop's first drop probes and
        loads them; one top-k batch
        and one append warm the ANN path."""
        self._drop(b)
        self._topk(b)
        self._append(b)
        self.hits = self.wanted = 0

    def step(self, b) -> None:
        self._drop(b)
        for _ in range(TOPK_PER_STEP):
            self._topk(b)
        self._append(b)
        if self.fixed_point is None:
            # after the warm-up drop and one timed drop, so bytes_per_item
            # does not depend on how many steps the run got through
            self.fixed_point = (tree_size(os.path.join(self.workdir, "mh_index")), len(self.seen))

    def finish(self, b) -> dict:
        (files, size), n_docs = self.fixed_point
        self.layers = {
            "mh_index.files": files,
            "mh_index.bytes": size,
            "index.files": tree_size(self.index)[0],
        }
        for stage, ms in self.stage_ms.items():
            self.layers[f"plans.curate.stage.{stage}.ms"] = statistics.median(ms)
        append = statistics.median(b.lat["append"])
        return {
            "op_p50_ms": statistics.median(b.lat["drop"]),
            "side_p50_ms": statistics.median(b.lat["topk"]),
            "items_per_s": APPEND_VECS / append * 1e3,
            "bytes_per_item": size / n_docs,
            "answer_recall": self.hits / self.wanted,
        }
