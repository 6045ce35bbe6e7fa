"""Command-line surface mirroring the reference's three binaries, so a
ct-mapreduce user can run the same workflows against this engine:

  ct-fetch            -> python -m ct_mapreduce_spark.cli fetch
  storage-statistics  -> python -m ct_mapreduce_spark.cli statistics
  ct-getcert          -> python -m ct_mapreduce_spark.cli getcert

Flag names track the reference's ini/env knobs (config/config.go:
183-213) through the same layered precedence — CLI flags < ini file <
CTSPARK_* environment — via config.load_config. Sources are parquet
paths of parsed entries (the post-P4 form all three reference tools
consume); the raw ranged-scan protocol lives in the `ctlog` data source
(sources/ctlog_source.py), whose output feeds the parse stage, not
these commands directly.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys

from pyspark.sql import DataFrame, SparkSession


def parse_hostport(addr: str, default_host: str = "127.0.0.1") -> tuple[str, int]:
    """Parse a listen address as host:port, accepting bracketed IPv6
    literals ("[::1]:8080" -> ("::1", 8080)) — getaddrinfo wants the bare
    address, not the URL-style brackets. ":8080" binds the default host."""
    host, _, port = addr.rpartition(":")
    if host.startswith("[") and host.endswith("]"):
        host = host[1:-1]
    return host or default_host, int(port)


def _load_source(spark: SparkSession, source: str, cfg) -> DataFrame:
    from pyspark.sql import functions as F

    df = spark.read.parquet(source)
    # --offset/--limit bound the scan range source-side (O2,
    # ct-fetch.go:288-305): a pushed-down entry_id predicate. limit is a
    # COUNT, like the reference's -limit (endPos = startPos + limit,
    # ct-fetch.go:303-305), not an absolute end entry id.
    start = cfg.offset or 0
    if cfg.offset is not None:
        df = df.where(F.col("entry_id") >= start)
    if cfg.limit is not None:
        df = df.where(F.col("entry_id") < start + cfg.limit)
    return df


def cmd_fetch(
    spark: SparkSession,
    cfg,
    now: dt.datetime | None = None,
    append: bool = False,
) -> int:
    """ct-fetch: filter -> key-derive -> first-seen dedup -> partitioned
    store write (no store configured => noop sink, engine.go:24,36-40)."""
    from ct_mapreduce_spark.plans.ingest import ingest_batch, write_store

    certs = _load_source(spark, cfg.sf_dir, cfg)
    deduped = ingest_batch(
        certs,
        now=now,
        cn_prefixes=cfg.cn_prefixes,
        log_expired=cfg.log_expired,
    )
    if cfg.cert_path and append:
        from ct_mapreduce_spark.fsutil import path_exists, recover_swap
        from ct_mapreduce_spark.operators.statistics import (
            recompute_leaf_counts,
            update_leaf_counts,
        )
        from ct_mapreduce_spark.sources.sinks import append_new_to_store

        # incremental run: only never-seen keys land, and the maintained
        # leaf-count table absorbs exactly those (additive by the dedup
        # gate) - history is never rescanned EXCEPT the one-time bootstrap
        # below: a store written by plain `fetch --store` runs predates
        # the leaf-count table, and seeding it from the incremental delta
        # alone would permanently undercount that history
        leaf_path = cfg.cert_path + "_leaf_counts"
        # complete any interrupted leaf-table swap BEFORE the existence
        # check: a crash between the two renames leaves dst absent with
        # __old__/__tmp__ present, which is a recoverable table, not a
        # missing one — recovering avoids a needless full-store recompute
        recover_swap(spark, leaf_path)
        needs_bootstrap = path_exists(spark, cfg.cert_path) and not path_exists(
            spark, leaf_path
        )
        n, fresh = append_new_to_store(deduped, cfg.cert_path)
        if needs_bootstrap:
            recompute_leaf_counts(
                spark, leaf_path, spark.read.parquet(cfg.cert_path)
            )
        else:
            update_leaf_counts(spark, leaf_path, fresh)
        print(f"appended {n} new certs -> {cfg.cert_path} (+leaf counts)")
    elif cfg.cert_path:
        from ct_mapreduce_spark.fsutil import delete_path

        write_store(deduped, cfg.cert_path)
        # the overwrite replaced the store generation; any sibling
        # leaf-count table now describes the PREVIOUS generation and must
        # not survive to be merged into by a later --append — delete it so
        # the next incremental run bootstraps from the fresh store
        delete_path(spark, cfg.cert_path + "_leaf_counts")
        print(f"stored {spark.read.parquet(cfg.cert_path).count()} certs -> {cfg.cert_path}")
    else:
        deduped.write.format("noop").mode("overwrite").save()
        print(f"processed {deduped.count()} certs (noop sink)")
    return 0


def cmd_fetch_follow(
    spark: SparkSession,
    cfg,
    now: dt.datetime | None = None,
    health_addr: str | None = None,
    max_staleness: float = 60.0,
    checkpoint: str | None = None,
    once: bool = False,
    statsd_addr: str | None = None,
) -> int:
    """ct-fetch daemon mode: the streaming ingest (T1/T2/T3) with the
    reference's sidecar /health endpoint (ct-fetch.go:567-608) serving
    the staleness rule over live StreamingQueryListener telemetry.
    --statsd-addr mirrors the reference's statsdHost/statsdPort mode
    (engine/engine.go:50-68): per-batch counters/gauges pushed to a
    statsd server over UDP. --once drains available input then exits
    (tests/batch catch-up); otherwise runs until terminated, like the
    reference daemon."""
    from ct_mapreduce_spark.streaming.health import HealthServer
    from ct_mapreduce_spark.streaming.ingest_stream import (
        read_cert_stream,
        start_ingest_query,
        streaming_ingest,
    )
    from ct_mapreduce_spark.streaming.telemetry import (
        IngestTelemetryListener,
        RateAnomalyTracker,
        StatsdEmitter,
    )

    if not cfg.cert_path:
        print("fetch --follow requires --store", file=sys.stderr)
        return 2
    listener = IngestTelemetryListener()
    spark.streams.addListener(listener)
    # per-trigger rate-anomaly monitor over the ingest's own input rates
    # (zscore_counts semantics driver-side; surfaced on /metrics) — the
    # reference's fetch+health loop composed with the anomaly rule
    anomaly = RateAnomalyTracker()
    spark.streams.addListener(anomaly)
    statsd = None
    if statsd_addr:
        shost, sport = parse_hostport(statsd_addr)
    else:
        # ini/env layer (statsdHost/statsdPort), gated by the reference's
        # enable rule — port > 1 and non-empty host (engine.go:54)
        shost, sport = cfg.statsd_host, cfg.statsd_port
        if not (sport > 1 and shost):
            shost = None
    if shost:
        statsd = StatsdEmitter(shost, sport, prefix="ct-fetch")
        spark.streams.addListener(statsd)
        print(f"statsd metrics -> udp://{shost}:{sport}")
    health = None
    if health_addr:
        host, port = parse_hostport(health_addr)
        health = HealthServer(
            listener, max_staleness, host, port, anomaly=anomaly
        ).start()
        disp = f"[{host}]" if ":" in host else host
        print(f"health endpoint: http://{disp}:{health.port}/health")
    q = start_ingest_query(
        streaming_ingest(read_cert_stream(spark, cfg.sf_dir), now=now),
        cfg.cert_path,
        checkpoint or cfg.cert_path + "_checkpoint",
        metadata_path=cfg.cert_path + "_metadata",
    )
    try:
        if once:
            q.processAllAvailable()
            q.stop()
        q.awaitTermination()
        return 0
    finally:
        if health is not None:
            health.stop()
        if statsd is not None:
            # listener-bus delivery is async: without a grace period the
            # final batch's progress datagram is lost at shutdown. Metrics
            # are fire-and-forget, so this is a bounded wait, not a
            # handshake — sent() goes up once the last event flushes. Only
            # wait when the query actually processed a batch (otherwise no
            # event is ever coming and the wait would just burn the full
            # deadline); when one IS owed, allow the bus a generous window
            # (observed >5 s under load on a busy session).
            import time as _time

            try:
                owed = bool(q.recentProgress)
            except Exception:
                owed = True
            deadline = _time.monotonic() + (20.0 if owed else 0.5)
            while statsd.sent() == 0 and _time.monotonic() < deadline:
                _time.sleep(0.1)
            spark.streams.removeListener(statsd)
            statsd.close()
        spark.streams.removeListener(anomaly)
        spark.streams.removeListener(listener)


def cmd_statistics(
    spark: SparkSession,
    cfg,
    now: dt.datetime | None = None,
    exact: bool = True,
    verbose: int = 0,
) -> int:
    """storage-statistics: the 3-level report (storage-statistics.go:
    36-82) printed per issuer plus grand totals. With --store it reads
    the partitioned store a fetch run wrote — the reference workflow,
    where statistics consumes the post-dedup state, never the raw log —
    and skips the filter/dedup passes.

    Verbosity mirrors the reference's glog levels (-v per-expDate counts
    :56; -vv serial listings :58-59; -vvv PEM dumps :62-74 — which the
    engine can actually serve, where the reference's disk
    LoadCertificatePEM is Unimplemented). The listings aggregate in one
    distributed pass and stream through toLocalIterator — the driver
    holds one partition of report lines at a time, never the corpus."""
    from pyspark.sql import functions as F

    from ct_mapreduce_spark.operators.metadata import issuer_metadata
    from ct_mapreduce_spark.operators.statistics import full_report, stats_rollup
    from ct_mapreduce_spark.plans.statistics import statistics_report

    if cfg.cert_path:
        detail = spark.read.parquet(cfg.cert_path)
        rollup, report = (
            stats_rollup(detail, exact=exact),
            full_report(detail, issuer_metadata(detail)),
        )
    else:
        certs = _load_source(spark, cfg.sf_dir, cfg)
        rollup, report = statistics_report(certs, now=now)
        from ct_mapreduce_spark.plans.ingest import ingest_batch

        detail = ingest_batch(certs, now=now)
        if not exact:
            rollup = stats_rollup(detail, exact=False)

    buckets: dict[str, list] = {}
    if verbose:
        aggs = [F.count_distinct("serial").alias("n_serials")]
        if verbose >= 2:
            aggs.append(
                F.sort_array(F.collect_set(F.hex("serial"))).alias("serials")
            )
        bucket_rows = (
            detail.groupBy("issuer_id", "exp_date")
            .agg(*aggs)
            .orderBy("issuer_id", "exp_date")
        )
        for r in bucket_rows.toLocalIterator():
            buckets.setdefault(r.issuer_id, []).append(r)

    for r in sorted(report.collect(), key=lambda r: r.issuer_id):
        print(
            f"issuer={r.issuer_id} serials={r.n_serials} "
            f"expDates={r.n_exp_dates} crls={r.n_crls} dns={r.n_dns}"
        )
        for b in buckets.get(r.issuer_id, []):
            print(f"- {b.exp_date} ({b.n_serials} serials)")
            if verbose >= 2:
                print(f"  Serials: [{' '.join(b.serials)}]")

    if verbose >= 3 and "raw_der" in detail.columns:
        from ct_mapreduce_spark.functions.codecs import pem_encode

        pems = detail.select(
            "issuer_id",
            "exp_date",
            F.hex("serial").alias("serial_hex"),
            pem_encode("raw_der").alias("pem"),
        ).orderBy("issuer_id", "exp_date", "serial_hex")
        for p in pems.toLocalIterator():
            print(f"Certificate serial={{{p.serial_hex}}}")
            sys.stdout.write(p.pem)

    totals = [r for r in rollup.collect() if r.g_issuer == 1 and r.g_exp == 1]
    if totals:
        print(f"total serials={totals[0].n_serials} rows={totals[0].n_rows}")
    return 0


def cmd_getcert(
    spark: SparkSession, cfg, log_url: str, entry_id: int
) -> int:
    """ct-getcert: point lookup, PEM to stdout (ct-getcert.go:16-57)."""
    from ct_mapreduce_spark.plans.point_lookup import get_entry

    certs = _load_source(spark, cfg.sf_dir, cfg)
    rows = get_entry(certs, log_url, entry_id).collect()
    if not rows:
        print(f"no entry {entry_id} in {log_url}", file=sys.stderr)
        return 1
    print(rows[0].pem)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ct_mapreduce_spark.cli")
    p.add_argument("--ini", help="ini config path (section [ctspark])")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, required_source: bool = True):
        sp.add_argument(
            "--source", required=required_source, help="parsed-entry parquet path"
        )
        sp.add_argument("--offset", type=int)
        sp.add_argument("--limit", type=int)
        sp.add_argument(
            "--now",
            help="ISO instant for the expiry filter (default: wall clock)",
        )

    f = sub.add_parser("fetch")
    common(f)
    f.add_argument("--store", help="partitioned store output (omit => noop)")
    f.add_argument(
        "--append",
        action="store_true",
        help="incremental run: append never-seen keys and merge leaf "
        "counts (instead of overwriting the store)",
    )
    f.add_argument("--log-expired", action="store_true")
    f.add_argument("--issuer-cn-filter", default=None)
    f.add_argument(
        "--follow",
        action="store_true",
        help="daemon mode: streaming ingest with checkpoint/resume",
    )
    f.add_argument(
        "--once",
        action="store_true",
        help="with --follow: drain available input, then exit",
    )
    f.add_argument(
        "--health-addr",
        default=None,
        help="with --follow: serve /health at host:port (port 0 = ephemeral)",
    )
    f.add_argument(
        "--max-staleness",
        type=float,
        default=60.0,
        help="seconds since last batch progress before /health degrades "
        "(the reference's 2 x pollingDelayMean bound)",
    )
    f.add_argument("--checkpoint", default=None)
    f.add_argument(
        "--statsd-addr",
        default=None,
        help="with --follow: push per-batch counters/gauges to a statsd "
        "server at host:port over UDP (the reference's statsdHost/"
        "statsdPort mode)",
    )
    s = sub.add_parser("statistics")
    common(s, required_source=False)
    s.add_argument("--store", help="read a fetched partitioned store instead of raw entries")
    s.add_argument(
        "--approx",
        action="store_true",
        help="HLL sketch counts instead of exact distinct (the 100 TB path)",
    )
    s.add_argument(
        "-v",
        "--verbose",
        action="count",
        default=0,
        help="-v per-expDate counts, -vv serial listings, -vvv PEM dumps "
        "(the reference's glog V(1)/V(2)/V(3) report levels)",
    )
    g = sub.add_parser("getcert")
    common(g)
    g.add_argument("--log-url", required=True)
    g.add_argument("--entry-id", type=int, required=True)

    c = sub.add_parser(
        "curate",
        help="crawl curation: WARC dir -> deduped/balanced/packed "
        "JSONL.gz corpus (engine extension; plans/curate.py)",
    )
    c.add_argument("--warc", required=True, help="directory of WARC archives")
    c.add_argument(
        "--workdir",
        required=True,
        help="state root: mh_index/ (persists across drops), export/, "
        "manifest/. Each drop adds one small index increment; `cli dedup "
        "compact --index <workdir>/mh_index` folds the increments into "
        "the base",
    )
    c.add_argument("--quality-min", type=float, default=0.2)
    c.add_argument("--est-threshold", type=float, default=0.9)
    c.add_argument(
        "--strip-boilerplate",
        action="store_true",
        help="strip word 8-gram spans repeated across >= "
        "--boilerplate-min-docs of this drop's pages before quality "
        "scoring (site templates, license headers)",
    )
    c.add_argument("--boilerplate-min-docs", type=int, default=8)
    c.add_argument("--export-shards", type=int, default=2)
    c.add_argument(
        "--bpe-model",
        default=None,
        help="pack in learned-BPE units: merge-table path (trained on "
        "the first drop's corpus if absent, loaded if present — "
        "successive drops share the tokenizer)",
    )
    c.add_argument("--bpe-merges", type=int, default=512)
    c.add_argument(
        "--domain-blocklist",
        default=None,
        help="comma-separated registered domains to drop right after "
        "extraction (operators/web.py), before any per-document work",
    )
    c.add_argument(
        "--lm-max-xent",
        type=int,
        default=None,
        help="perplexity gate: drop documents above this per-token "
        "cross-entropy (micro-nats) under the unigram reference model "
        "(operators/lm.py)",
    )
    c.add_argument(
        "--lm-reference",
        default=None,
        help="JSONL dir of trusted reference documents the LM trains on "
        "(omit to train on this drop's own quality survivors)",
    )
    c.add_argument(
        "--lm-model",
        default=None,
        help="unigram-model path (trained+saved on the first drop if "
        "absent, loaded after — successive drops score under the same "
        "model)",
    )
    c.add_argument(
        "--lm-order",
        type=int,
        default=1,
        choices=(1, 2),
        help="perplexity-gate model order: 1 = unigram, 2 = stupid-"
        "backoff bigram (second artifact persisted at <lm-model>_bi)",
    )
    c.add_argument(
        "--token-budget",
        type=int,
        default=None,
        help="cap the drop's exported corpus at this many tokens (BPE "
        "units with --bpe-model, whitespace words otherwise), keeping "
        "the highest DSIR-scoring documents",
    )
    c.add_argument(
        "--dsir-target",
        default=None,
        help="JSONL dir of target-distribution documents the DSIR "
        "importance model trains against (first drop)",
    )
    c.add_argument(
        "--dsir-model",
        default=None,
        help="DSIR weight-table path (trained+saved on the first drop "
        "if absent, loaded after — successive drops select under the "
        "same importance model)",
    )
    c.add_argument(
        "--drop-tag",
        default=None,
        help="namespace for this drop's export/manifest (default: "
        "auto-increment drop-NNNN; pass explicitly to make a re-run "
        "of the same drop overwrite itself)",
    )
    c.add_argument(
        "--eval-suite",
        default=None,
        help="JSONL dir of benchmark documents: drop documents "
        "containing benchmark k-grams before dedup/export "
        "(decontamination); the gram dictionary persists at "
        "<workdir>/eval_grams across drops",
    )
    c.add_argument("--decontam-k", type=int, default=8)
    c.add_argument("--decontam-max-hits", type=int, default=0)
    c.add_argument(
        "--pii-redact",
        action="store_true",
        help="scrub emails/IPv4s/phone shapes from the exported text "
        "(runs last, after every other gate)",
    )

    a = sub.add_parser(
        "ann",
        help="ANN index lifecycle: build/append/compact/topk/stream "
        "over the full-vector IVF store, or with --pq the IVF-PQ codes "
        "store — the RECOMMENDED serving index at scale (8-byte rows, "
        "probes read n_probe/n_cells of them) (engine extension; "
        "operators/similarity.py + streaming/ann_stream.py)",
    )
    a.add_argument(
        "action", choices=["build", "append", "compact", "topk", "stream"]
    )
    a.add_argument("--index", required=True, help="IVF index path")
    a.add_argument(
        "--embeddings",
        help="embedding parquet (vec_id, embedding) — build/append input",
    )
    a.add_argument("--n-cells", type=int, default=16)
    a.add_argument("--refine-iters", type=int, default=0)
    a.add_argument("--queries", help="query parquet (vec_id, embedding) — topk")
    a.add_argument("--k", type=int, default=5)
    a.add_argument("--n-probe", type=int, default=4)
    a.add_argument("--out", help="topk result parquet (omit => print count)")
    a.add_argument("--stream-source", help="embedding file-stream dir — stream")
    a.add_argument("--checkpoint", help="stream checkpoint dir — stream")
    a.add_argument(
        "--compact-every",
        type=int,
        default=None,
        help="stream: auto-compact the index whenever the increment "
        "tree holds >= N batch partitions (in-band, replay-safe)",
    )
    a.add_argument(
        "--pq",
        action="store_true",
        help="operate the IVF-PQ store (cell-partitioned PQ codes + "
        "codebooks) instead of the full-vector IVF store: "
        "build/append/compact/topk/stream via pq_ivf_* — the "
        "8-bytes-per-row serving tier, RECOMMENDED for large corpora "
        "(pair topk with --rerank-factor/--rerank-corpus for exact "
        "re-ranking of the shortlist)",
    )
    a.add_argument("--m-sub", type=int, default=8, help="PQ subspaces (--pq)")
    a.add_argument(
        "--residual",
        action="store_true",
        help="build --pq: quantize residuals x - centroid(cell(x)) "
        "(the full Jegou et al. IVFADC); recorded in the index's _meta "
        "sidecar, honored by append/topk automatically. Pair with "
        "--refine-iters >= 2: with unrefined (sampled-member) centroids "
        "residuals are off-center and the tier scores WORSE than raw "
        "codes; with Lloyd-refined centroids it wins in both measured "
        "regimes (tests/test_llm_ops.py residual regime matrix)",
    )
    a.add_argument(
        "--n-codes", type=int, default=16, help="PQ codes per subspace (--pq)"
    )
    a.add_argument(
        "--rerank-factor",
        type=int,
        default=0,
        help="topk --pq: exact-cosine re-rank of the k*factor ADC "
        "shortlist (needs --rerank-corpus)",
    )
    a.add_argument(
        "--rerank-corpus",
        default=None,
        help="topk --pq: full-vector parquet for the re-rank tier "
        "(vectors are not stored in the PQ index)",
    )

    d = sub.add_parser(
        "dedup",
        help="incremental MinHash dedup daemon: stream (file-source "
        "documents -> keep-list, self-maintaining index) or compact "
        "(fold increment trees into the pfx-clustered base; run with "
        "the stream stopped) (engine extension; "
        "streaming/dedup_stream.py + operators/dedup_fuzzy.py)",
    )
    d.add_argument("action", choices=["stream", "compact"])
    d.add_argument("--index", required=True, help="MinHash index path")
    d.add_argument(
        "--stream-source",
        help="document file-stream dir (parquet: doc_id long, text "
        "string) — stream",
    )
    d.add_argument("--keep", help="keep-list output dir — stream")
    d.add_argument("--checkpoint", help="stream checkpoint dir — stream")
    d.add_argument("--est-threshold", type=float, default=0.9)
    d.add_argument("--max-files-per-trigger", type=int, default=1)
    d.add_argument(
        "--quality-min",
        type=float,
        default=None,
        help="stream: drop documents under this heuristic quality score "
        "before signing",
    )
    d.add_argument(
        "--lm-model",
        default=None,
        help="stream: persisted unigram LM parquet for the perplexity "
        "gate (bigram sibling at <path>_bi when --lm-order 2)",
    )
    d.add_argument("--lm-max-xent", type=int, default=None)
    d.add_argument("--lm-order", type=int, default=1)
    d.add_argument(
        "--compact-every",
        type=int,
        default=None,
        help="stream: auto-compact the index whenever the increment "
        "tree holds >= N batch partitions (in-band, replay-safe)",
    )

    t = sub.add_parser(
        "tokenize",
        help="BPE tokenizer lifecycle: train/encode/stats (engine "
        "extension; operators/tokenizer.py)",
    )
    t.add_argument("action", choices=["train", "encode", "stats"])
    t.add_argument(
        "--input", required=True, help="documents parquet with a text column"
    )
    t.add_argument("--text-col", default="text")
    t.add_argument(
        "--model",
        required=True,
        help="merge-table parquet (train writes it; encode/stats read it)",
    )
    t.add_argument("--n-merges", type=int, default=4096)
    t.add_argument("--min-count", type=int, default=2)
    t.add_argument(
        "--top-v",
        type=int,
        default=1_000_000,
        help="frequency-table cap — bounds the driver-side training set",
    )
    t.add_argument("--out", help="encode: output parquet path")
    t.add_argument(
        "--counts-only",
        action="store_true",
        help="encode: write per-doc n_bpe_tokens instead of token arrays",
    )

    m = sub.add_parser(
        "monitor",
        help="event-rate anomaly monitoring: one-shot batch report or "
        "the streaming daemon (operators/statistics.py:rate_anomaly + "
        "streaming/rate_stream.py)",
    )
    m.add_argument("action", choices=["report", "stream"])
    m.add_argument(
        "--input",
        required=True,
        help="events parquet (report) or file-stream dir (stream)",
    )
    m.add_argument("--key-col", default="event_type")
    m.add_argument("--ts-col", default="ts")
    m.add_argument("--bucket", default="hour")
    m.add_argument("--trailing", type=int, default=24)
    m.add_argument("--warmup", type=int, default=12)
    m.add_argument("--z-threshold", type=float, default=3.0)
    m.add_argument(
        "--out", help="report: output parquet (omit => print anomalies)"
    )
    m.add_argument("--history", help="stream: per-batch delta/history dir")
    m.add_argument("--alerts", help="stream: alerts dir")
    m.add_argument("--checkpoint", help="stream: checkpoint dir")
    return p


def cmd_monitor(spark: SparkSession, args) -> int:
    """Rate-anomaly dispatcher: `report` scores a parquet table once
    with the batch operator; `stream` runs the daemon (availableNow
    drain of the source dir, batch-keyed idempotent history)."""
    from pyspark.sql import functions as F

    from ct_mapreduce_spark.operators.statistics import rate_anomaly

    if args.action == "report":
        scored = rate_anomaly(
            spark.read.parquet(args.input),
            key_col=args.key_col,
            ts_col=args.ts_col,
            bucket=args.bucket,
            trailing=args.trailing,
            warmup=args.warmup,
            z_threshold=args.z_threshold,
        )
        if args.out:
            scored.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            hits = scored.where(F.col("is_anomaly")).orderBy(
                "key", "bucket_ts"
            )
            for r in hits.collect():
                print(f"{r.key}\t{r.bucket_ts}\tn={r.n}\tz={r.z_score}")
        return 0
    for req in ("history", "alerts", "checkpoint"):
        if getattr(args, req) is None:
            print(f"monitor stream requires --{req}", file=sys.stderr)
            return 2
    from ct_mapreduce_spark.streaming.rate_stream import start_rate_monitor

    q = start_rate_monitor(
        spark,
        source_path=args.input,
        history_path=args.history,
        alerts_path=args.alerts,
        checkpoint=args.checkpoint,
        key_col=args.key_col,
        ts_col=args.ts_col,
        bucket=args.bucket,
        trailing=args.trailing,
        warmup=args.warmup,
        z_threshold=args.z_threshold,
    )
    q.awaitTermination()
    n = spark.read.parquet(args.alerts).count()
    print(f"alerts: {n}")
    return 0


def cmd_ann(spark: SparkSession, args) -> int:
    """ANN index lifecycle dispatcher (the ANN twin of the curate
    subcommand): one materialized index, four maintenance/serve verbs
    plus the streaming ingest daemon (availableNow drain). --pq switches
    every verb to the IVF-PQ store (cell-partitioned codes + codebook
    sidecars — the compressed serving tier); the stream verb stays
    full-vector (a PQ daemon would re-encode under stale codebooks as
    the stream drifts — rebuild-on-drift is the PQ contract)."""
    from ct_mapreduce_spark.operators import similarity

    pq = getattr(args, "pq", False)
    if args.action == "build":
        if not args.embeddings:
            raise SystemExit("ann build requires --embeddings")
        emb = spark.read.parquet(args.embeddings)
        if pq:
            similarity.pq_ivf_build_index(
                emb,
                args.index,
                n_cells=args.n_cells,
                m_sub=args.m_sub,
                n_codes=args.n_codes,
                residual=args.residual,
                refine_iters=args.refine_iters,
            )
            print(
                f"built {args.index} (IVF-PQ) n_cells={args.n_cells} "
                f"m_sub={args.m_sub} n_codes={args.n_codes}"
            )
        else:
            similarity.ivf_build_index(
                emb,
                args.index,
                n_cells=args.n_cells,
                refine_iters=args.refine_iters,
            )
            print(f"built {args.index} n_cells={args.n_cells}")
    elif args.action == "append":
        if not args.embeddings:
            raise SystemExit("ann append requires --embeddings")
        new = spark.read.parquet(args.embeddings)
        if pq:
            similarity.pq_ivf_index_append(new, args.index)
        else:
            similarity.ivf_index_append(new, args.index)
        print(f"appended into {args.index}")
    elif args.action == "compact":
        if pq:
            before, after = similarity.pq_ivf_index_compact(spark, args.index)
        else:
            before, after = similarity.ivf_index_compact(spark, args.index)
        print(f"compacted {args.index}: {before} -> {after} files")
    elif args.action == "topk":
        if not args.queries:
            raise SystemExit("ann topk requires --queries")
        queries = spark.read.parquet(args.queries)
        if pq:
            res = similarity.pq_ivf_topk_indexed(
                spark,
                args.index,
                queries,
                k=args.k,
                n_probe=args.n_probe,
                rerank_corpus=(
                    spark.read.parquet(args.rerank_corpus)
                    if args.rerank_corpus
                    else None
                ),
                rerank_factor=args.rerank_factor,
            )
        else:
            res = similarity.ivf_topk_indexed(
                spark,
                args.index,
                queries,
                k=args.k,
                n_probe=args.n_probe,
            )
        if args.out:
            res.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            print(f"topk rows: {res.count()}")
    else:  # stream
        if not (args.stream_source and args.checkpoint):
            raise SystemExit("ann stream requires --stream-source and --checkpoint")
        from ct_mapreduce_spark.streaming.ann_stream import (
            start_ann_ingest_stream,
        )

        q = start_ann_ingest_stream(
            spark,
            args.stream_source,
            args.index,
            args.checkpoint,
            compact_every=args.compact_every,
            store="pq" if pq else "ivf",
        )
        q.awaitTermination()
        print("stream drained")
    return 0


def cmd_dedup(spark: SparkSession, args) -> int:
    """Dedup daemon dispatcher: `stream` runs start_dedup_stream (the
    self-maintaining incremental index — pass --compact-every to fold
    committed increments in-band); `compact` is the external maintenance
    window (stream stopped, folds everything including the newest
    batch)."""
    from ct_mapreduce_spark.operators.dedup_fuzzy import minhash_index_compact

    if args.action == "compact":
        res = minhash_index_compact(spark, args.index)
        for store, (before, after) in sorted(res.items()):
            print(f"compacted {args.index}/{store}: {before} -> {after} files")
        return 0
    if not (args.stream_source and args.keep and args.checkpoint):
        raise SystemExit(
            "dedup stream requires --stream-source, --keep and --checkpoint"
        )
    from ct_mapreduce_spark.streaming.dedup_stream import start_dedup_stream

    q = start_dedup_stream(
        spark,
        args.stream_source,
        args.index,
        args.keep,
        args.checkpoint,
        est_threshold=args.est_threshold,
        max_files_per_trigger=args.max_files_per_trigger,
        quality_min=args.quality_min,
        lm_model_path=args.lm_model,
        lm_max_xent=args.lm_max_xent,
        lm_order=args.lm_order,
        compact_every=args.compact_every,
    )
    q.awaitTermination()
    print("stream drained")
    return 0


def cmd_tokenize(spark: SparkSession, args) -> int:
    """BPE tokenizer lifecycle: one model artifact (the merge table),
    three verbs. train = frequency pass + driver merges; encode/stats =
    distributed memoized mapInPandas under the stored model."""
    from ct_mapreduce_spark.operators import tokenizer

    docs = spark.read.parquet(args.input)
    if args.action == "train":
        freq = tokenizer.word_frequencies(docs, args.text_col, top_v=args.top_v)
        merges = tokenizer.bpe_train(
            freq, n_merges=args.n_merges, min_count=args.min_count
        )
        tokenizer.save_merges(spark, merges, args.model)
        print(f"trained {len(merges)} merges -> {args.model}")
    elif args.action == "encode":
        if not args.out:
            raise SystemExit("tokenize encode requires --out")
        merges = tokenizer.load_merges(spark, args.model)
        out = (
            tokenizer.token_counts(docs, merges, args.text_col)
            if args.counts_only
            else tokenizer.bpe_encode(docs, merges, args.text_col)
        )
        out.write.mode("overwrite").parquet(args.out)
        print(f"encoded {spark.read.parquet(args.out).count()} docs -> {args.out}")
    else:  # stats
        from pyspark.sql import functions as F

        merges = tokenizer.load_merges(spark, args.model)
        row = (
            tokenizer.token_counts(docs, merges, args.text_col)
            .agg(
                F.sum("n_bpe_tokens").alias("total_tokens"),
                F.sum(F.length(args.text_col)).alias("total_chars"),
                F.count(F.lit(1)).alias("n_docs"),
            )
            .collect()[0]
        )
        total_tok = int(row["total_tokens"] or 0)
        total_chars = int(row["total_chars"] or 0)
        print(f"n_docs          {row['n_docs']}")
        print(f"n_merges        {len(merges)}")
        print(f"total_tokens    {total_tok}")
        print(f"total_chars     {total_chars}")
        print(f"chars_per_token {total_chars / max(total_tok, 1):.3f}")
    return 0


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    from ct_mapreduce_spark.config import load_config
    from ct_mapreduce_spark.session import get_spark

    parser = build_parser()
    args = parser.parse_args(argv)
    if args.cmd == "ann":  # no cert-source config; dispatch immediately
        spark = spark or get_spark("ct_mapreduce_spark-cli")
        return cmd_ann(spark, args)
    if args.cmd == "dedup":  # no cert-source config; dispatch immediately
        spark = spark or get_spark("ct_mapreduce_spark-cli")
        return cmd_dedup(spark, args)
    if args.cmd == "tokenize":  # no cert-source config; dispatch immediately
        spark = spark or get_spark("ct_mapreduce_spark-cli")
        return cmd_tokenize(spark, args)
    if args.cmd == "monitor":  # no cert-source config; dispatch immediately
        spark = spark or get_spark("ct_mapreduce_spark-cli")
        return cmd_monitor(spark, args)
    if args.cmd == "curate":  # no cert-source config; dispatch immediately
        from ct_mapreduce_spark.plans.curate import curate_crawl

        spark = spark or get_spark("ct_mapreduce_spark-cli")
        stats = curate_crawl(
            spark,
            args.warc,
            args.workdir,
            quality_min=args.quality_min,
            est_threshold=args.est_threshold,
            n_export_shards=args.export_shards,
            drop_tag=args.drop_tag,
            strip_boilerplate=args.strip_boilerplate,
            boilerplate_min_docs=args.boilerplate_min_docs,
            bpe_model=args.bpe_model,
            bpe_merges=args.bpe_merges,
            lm_max_xent=args.lm_max_xent,
            lm_reference=args.lm_reference,
            lm_model=args.lm_model,
            lm_order=args.lm_order,
            domain_blocklist=(
                [d.strip() for d in args.domain_blocklist.split(",") if d.strip()]
                if args.domain_blocklist
                else None
            ),
            token_budget=args.token_budget,
            dsir_target=args.dsir_target,
            dsir_model=args.dsir_model,
            eval_suite=args.eval_suite,
            decontam_k=args.decontam_k,
            decontam_max_hits=args.decontam_max_hits,
            pii_redact=args.pii_redact,
        )
        for k, v in stats.items():
            print(f"{k:18s} {v}")
        return 0
    if args.cmd == "statistics" and not (args.source or args.store):
        parser.error("statistics requires --source or --store")
    flags = {
        "sf_dir": args.source,
        "offset": args.offset,
        "limit": args.limit,
        "cert_path": getattr(args, "store", None),
        "log_expired": getattr(args, "log_expired", False) or None,
        "issuer_cn_filter": getattr(args, "issuer_cn_filter", None),
    }
    cfg = load_config(flags=flags, ini_path=args.ini)
    now = (
        dt.datetime.fromisoformat(args.now).replace(tzinfo=dt.timezone.utc)
        if getattr(args, "now", None)
        else None
    )
    spark = spark or get_spark("ct_mapreduce_spark-cli")
    if args.cmd == "fetch":
        if getattr(args, "follow", False):
            return cmd_fetch_follow(
                spark,
                cfg,
                now=now,
                health_addr=args.health_addr,
                max_staleness=args.max_staleness,
                checkpoint=args.checkpoint,
                once=args.once,
                statsd_addr=args.statsd_addr,
            )
        return cmd_fetch(
            spark, cfg, now=now, append=getattr(args, "append", False)
        )
    if args.cmd == "statistics":
        return cmd_statistics(
            spark,
            cfg,
            now=now,
            exact=not getattr(args, "approx", False),
            verbose=getattr(args, "verbose", 0),
        )
    if args.cmd == "getcert":
        return cmd_getcert(spark, cfg, args.log_url, args.entry_id)
    return 2


if __name__ == "__main__":
    sys.exit(main())
