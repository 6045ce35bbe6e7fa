"""Text-corpus sources (sources/text_source.py): JSONL/JSONL.gz/WARC
round trips, corruption tolerance, and parity of all three paths."""

from __future__ import annotations

import gzip
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ct_mapreduce_spark.sources.text_source import (
    encode_warc,
    parse_warc_records,
    read_jsonl,
    read_jsonl_gz,
    read_warc,
)


def _docs(n=50):
    return [
        {"doc_id": i, "text": f"document number {i} body " * 3, "lang": "en"}
        for i in range(n)
    ]


def test_jsonl_roundtrip_and_corrupt_lines(spark, tmp_path):
    p = tmp_path / "corpus.jsonl"
    lines = [json.dumps(d) for d in _docs(50)]
    lines.insert(10, "{this is not json")
    p.write_text("\n".join(lines))
    # (collect once: Spark refuses plans that reference ONLY the internal
    # corrupt-record column of a raw file scan)
    rows = read_jsonl(spark, str(p)).collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    assert len(good) == 50
    assert sum(1 for r in rows if r["_corrupt_record"] is not None) == 1
    assert {r["doc_id"] for r in good} == set(range(50))


def test_jsonl_gz_matches_plain(spark, tmp_path):
    docs = _docs(40)
    plain = tmp_path / "a.jsonl"
    plain.write_text("\n".join(json.dumps(d) for d in docs))
    gz_dir = tmp_path / "gz"
    os.makedirs(gz_dir)
    half = len(docs) // 2
    for name, chunk in (("p0", docs[:half]), ("p1", docs[half:])):
        (gz_dir / f"{name}.jsonl.gz").write_bytes(
            gzip.compress("\n".join(json.dumps(d) for d in chunk).encode())
        )
    # a corrupt member must drop only itself
    (gz_dir / "bad.jsonl.gz").write_bytes(b"\x1f\x8bnot really gzip")
    a = sorted(
        (r["doc_id"], r["text"], r["lang"])
        for r in read_jsonl(spark, str(plain))
        .where(F.col("_corrupt_record").isNull())
        .select("doc_id", "text", "lang")
        .collect()
    )
    b = sorted(
        (r["doc_id"], r["text"], r["lang"])
        for r in read_jsonl_gz(spark, str(gz_dir)).collect()
    )
    assert a == b


def test_warc_roundtrip(spark, tmp_path):
    recs = [
        {
            "warc_type": "response",
            "url": f"https://example.test/page{i}",
            "date": "2026-08-14T00:00:00Z",
            "record_id": f"<urn:uuid:{i:08d}>",
            "content_type": "text/plain",
            "body": f"page body {i} with words " * 4,
        }
        for i in range(25)
    ]
    (tmp_path / "seg0.warc").write_bytes(encode_warc(recs[:12]))
    (tmp_path / "seg1.warc.gz").write_bytes(gzip.compress(encode_warc(recs[12:])))
    df = read_warc(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 25
    by_url = {r["url"]: r for r in rows}
    for rec in recs:
        got = by_url[rec["url"]]
        assert got["body"] == rec["body"]
        assert got["warc_type"] == "response"
        assert got["length"] == len(rec["body"].encode())


def test_warc_streaming_decode_bounded_memory(tmp_path):
    """A >=256 MB-inflated gzip archive is parsed record-by-record with
    O(record) memory: the streamed reader (gzip.GzipFile +
    iter_warc_records) must never materialize the inflated archive. The
    archive is written incrementally (so the TEST is also bounded), then
    iterated under tracemalloc — peak traced allocation must stay ~two
    orders of magnitude below the inflated size."""
    import tracemalloc

    from ct_mapreduce_spark.sources.text_source import iter_warc_records

    body = ("common crawl filler sentence for compression. " * 5600)[:262144]
    n = 1100  # 1100 * 256 KiB ≈ 275 MB inflated
    gz = tmp_path / "big.warc.gz"
    with gzip.open(gz, "wb", compresslevel=1) as f:
        for i in range(n):
            f.write(
                encode_warc(
                    [
                        {
                            "warc_type": "response",
                            "url": f"https://big.example/{i}",
                            "record_id": f"<urn:uuid:big{i:07d}>",
                            "body": body,
                        }
                    ]
                )
            )
    inflated = n * len(body)
    assert inflated >= 256 << 20

    tracemalloc.start()
    seen = 0
    with gzip.open(gz, "rb") as f:
        for rec in iter_warc_records(f):
            assert rec["length"] == len(body)
            seen += 1
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert seen == n
    assert peak < 32 << 20, f"peak {peak} bytes — decode is not streamed"


def test_warc_parser_garbage_tolerant():
    recs = [
        {"warc_type": "response", "url": "u1", "body": b"hello"},
        {"warc_type": "response", "url": "u2", "body": b"world"},
    ]
    raw = encode_warc(recs)
    # truncated tail: first record parses, the cut one is dropped
    cut = raw[: len(raw) - 6]
    got = parse_warc_records(cut)
    assert [r["url"] for r in got] == ["u1"]
    # leading garbage: nothing parses, nothing raises
    assert parse_warc_records(b"\x00\xff garbage" + raw) == []
    # interleaved padding is fine
    assert len(parse_warc_records(b"\r\n\r\n" + raw)) == 2


def test_write_jsonl_gz_roundtrip(spark, tmp_path):
    from ct_mapreduce_spark.sources.text_source import write_jsonl_gz

    docs = spark.createDataFrame(
        [(d["doc_id"], d["text"], d["lang"]) for d in _docs(60)],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "export")
    write_jsonl_gz(docs, out, n_shards=4)
    import glob as g

    assert len(g.glob(out + "/part-*.json.gz")) == 4
    back = read_jsonl_gz(spark, out)
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.select("doc_id", "text", "lang").collect())
    assert a == b


def test_html_to_text_rules(spark):
    from ct_mapreduce_spark.operators.text import html_to_text, strip_http_headers

    cases = [
        (
            "<html><script>bad()</script><p>keep &amp; this</p></html>",
            "keep & this",
        ),
        ("<style>p{x}</style>plain", "plain"),
        ("<!-- gone -->visible", "visible"),
        ("a&lt;b&gt;c &quot;q&#39;s&nbsp;end", "a<b>c \"q's end"),
        # escaped entity references must NOT double-decode: source
        # '&amp;lt;' renders as the literal text '&lt;', not '<'
        ("&amp;lt;escaped&amp;gt; and &amp;amp; stay", "&lt;escaped&gt; and &amp; stay"),
        ("no markup at all", "no markup at all"),
        ("<div><div><span>nested</span></div></div>", "nested"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, h string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text("h").alias("t")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i])
    hdr = spark.createDataFrame(
        [(0, "HTTP/1.1 200 OK\r\nX: y\r\n\r\n<p>body</p>"), (1, "<p>raw</p>")],
        "i long, b string",
    )
    stripped = {
        r["i"]: r["s"]
        for r in hdr.select(
            "i", strip_http_headers("b").alias("s")
        ).collect()
    }
    assert stripped[0] == "<p>body</p>"
    assert stripped[1] == "<p>raw</p>"


def test_crawl_pipeline_two_drops(spark, tmp_path):
    """plans/curate.py across two crawl drops sharing a workdir: drop 1
    populates the index; drop 2 (a re-crawl of the same pages) is fully
    deduped away by the persistent index."""
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    wd = str(tmp_path / "wd")
    crawl1 = str(tmp_path / "c1")
    text_source.synthetic_warc_html_fixture(crawl1, n=48)
    s1 = curate_crawl(spark, crawl1, wd)
    assert s1["drop_tag"] == "drop-0000"
    assert s1["extracted"] == 48
    assert 0 < s1["after_dedup"] <= s1["quality_survivors"]
    assert 0 < s1["after_mixture"] <= s1["after_dedup"]

    def manifest(tag):
        return spark.read.parquet(f"{wd}/manifest/drop={tag}")

    assert s1["shards"] >= 1
    assert s1["shards"] == manifest("drop-0000").count()
    exported = spark.read.option("compression", "gzip").json(
        wd + "/export/drop=drop-0000"
    )
    assert exported.count() == s1["after_mixture"]

    crawl2 = str(tmp_path / "c2")
    text_source.synthetic_warc_html_fixture(crawl2, n=48)
    s2 = curate_crawl(spark, crawl2, wd)
    assert s2["drop_tag"] == "drop-0001"
    assert s2["extracted"] == 48
    assert s2["after_dedup"] == 0  # every re-crawled page is a known dup
    assert s2["shards"] == manifest("drop-0001").count()
    # drop 2 wrote its OWN namespace; drop 1's export is untouched (the
    # r6 overwrite bug: a second drop used to delete the first's shards)
    assert (
        spark.read.option("compression", "gzip")
        .json(wd + "/export/drop=drop-0000")
        .count()
        == s1["after_mixture"]
    )
    assert (tmp_path / "wd" / "manifest" / "drop=drop-0000").exists()
    assert (tmp_path / "wd" / "manifest" / "drop=drop-0001").exists()


def test_curate_scans_warc_once(spark, tmp_path, monkeypatch):
    """The flagship pipeline's cost model: the WARC parse (its most
    expensive stage) executes exactly once per run. A record-counting
    accumulator is spliced after read_warc; if any downstream consumer
    re-derived the source (the pre-r7 plan ran it ~4x for stage counts),
    the accumulator would count every record multiple times."""
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    crawl = str(tmp_path / "c")
    text_source.synthetic_warc_html_fixture(crawl, n=32)
    acc = spark.sparkContext.accumulator(0)
    real = text_source.read_warc

    def counted(spark_, path):
        df = real(spark_, path)

        def _count(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(_count, df.schema)

    monkeypatch.setattr(text_source, "read_warc", counted)
    stats = curate_crawl(spark, crawl, str(tmp_path / "wd"))
    assert stats["extracted"] == 32
    assert acc.value == 32  # every fixture record seen exactly once


def test_curate_second_drop_job_count(spark, tmp_path, action_jobs):
    """Pins the driver-submitted job count of a second crawl drop, whose
    dedup runs every tier (id containment, exact and near-dup index
    probes, the within-batch tiers) on non-empty input: 8 pages
    re-crawled under their own record ids, 16 re-crawled under new ids,
    16 new pages. Each checkpoint in the dedup core is eager or lazy by
    design (an eager one is its own action job, a lazy one rides the
    next action), so a posture change shows up here as a different
    count. The index fold writes one increment per drop, so no probe
    pays a listing job over the base's prefix directories. The index
    holds increments only, which are read under declared schemas (no
    footer-inference job) and which no probe prunes with a collected
    prefix list; the shard count rides the manifest write. The fold's
    concurrent writes run in the drop's job group, so the two of them
    that run outside adaptive execution (no exchange in their plans) are
    counted. Jobs of adaptive execution's query stages are not; the SQL
    actions those jobs belong to are pinned as a count of root SQL
    executions instead, so a doubled count, collect or write fails here
    too (see the action_jobs fixture)."""
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    wd = str(tmp_path / "wd")
    crawl = str(tmp_path / "c1")
    text_source.synthetic_warc_html_fixture(crawl, n=32)
    curate_crawl(spark, crawl, wd)
    recs = [
        {
            "warc_type": "response",
            "url": f"https://crawl.example/page/{i}",
            "date": "2026-01-02T00:00:00Z",
            "record_id": f"<urn:uuid:{'h' if i < 8 else 'r'}{i:07d}>",
            "content_type": "application/http; msgtype=response",
            "body": text_source.synthetic_html_body(i),
        }
        for i in [*range(24), *range(32, 48)]
    ]
    crawl2 = tmp_path / "c2"
    crawl2.mkdir()
    (crawl2 / "seg-000.warc").write_bytes(text_source.encode_warc(recs))
    stats, actions, sql_actions = action_jobs(
        "curate-second-drop", lambda: curate_crawl(spark, str(crawl2), wd)
    )
    assert stats["extracted"] == 40
    assert stats["after_dedup"] == 16  # only the 16 new pages survive
    assert len(actions) == 10
    assert len(sql_actions) == 19


@pytest.mark.parametrize(
    "artifact, message",
    [
        ("no_k", "predates k-tagging"),
        ("empty", "is EMPTY"),
        ("k5", "was shingled with k=5 but this run asked decontam_k=8"),
    ],
)
def test_curate_rejects_unusable_eval_grams(spark, tmp_path, artifact, message):
    """A persisted eval_grams dictionary that cannot serve this run's
    decontamination is refused with its own message, never probed: one
    written before k-tagging (no k column; the declared read sees k
    null), one with zero rows (the suite produced no shingles), and one
    shingled at another k (probing 8-grams against 5-grams scores ~zero
    hits, a gate that looks green while leaking)."""
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    rows = {
        "no_k": ([("a b c d e f g h",)], "shingle string"),
        "empty": ([], "shingle string, k int"),
        "k5": ([("a b c d e", 5)], "shingle string, k int"),
    }[artifact]
    wd = tmp_path / "wd"
    spark.createDataFrame(*rows).coalesce(1).write.parquet(str(wd / "eval_grams"))
    crawl = str(tmp_path / "c")
    text_source.synthetic_warc_html_fixture(crawl, n=8)
    with pytest.raises(ValueError, match=message):
        curate_crawl(
            spark,
            crawl,
            str(wd),
            quality_min=0.0,
            eval_suite=str(tmp_path / "unread_suite"),
        )


def test_fold_over_flat_index_keeps_flat_signatures(spark, tmp_path):
    """An index seeded by minhash_index_build holds flat files in
    {idx}/sigs. Folding a batch with write_postings must leave every one
    of those signatures visible: to minhash_probe_index, which scores
    candidates against them, before and after compaction, and to
    curate's id containment, which drops a re-crawled record id whatever
    its new content. (Spark reads a tree that mixes flat files with
    ingest_batch= directories as the partitioned rows alone.)"""
    from ct_mapreduce_spark.operators.dedup_fuzzy import (
        minhash_index_build,
        minhash_index_compact,
        minhash_probe_index,
        write_postings,
    )
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    n = 16
    record_ids = [f"<urn:uuid:f{i:07d}>" for i in range(n)]
    # the indexed texts share no words with the re-crawl's pages
    texts = [
        f"archived copy {i} " + " ".join(f"a{i}w{j}" for j in range(30))
        for i in range(n)
    ]
    flat = spark.createDataFrame(
        list(zip(record_ids, texts)), "record_id string, text string"
    ).select(F.xxhash64("record_id").alias("doc_id"), "text")
    idx = str(tmp_path / "wd" / "mh_index")
    minhash_index_build(flat, idx)
    batch = spark.createDataFrame(
        [(10**6 + i, f"folded batch page {i} with its own words " * 3)
         for i in range(3)],
        "doc_id long, text string",
    )
    write_postings(batch, idx, batch_tag="seed-batch")

    copies = spark.createDataFrame(
        [(2 * 10**6 + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    by_text = {r.text: r.doc_id for r in flat.collect()}
    want = {(2 * 10**6 + i, by_text[t]) for i, t in enumerate(texts)}

    def found():
        return {
            (r.new_doc_id, r.corpus_doc_id)
            for r in minhash_probe_index(spark, idx, copies)
            .where(F.col("est_jaccard") == 1.0)
            .collect()
        }

    assert found() == want
    # compaction folds the increment into the flat base without loss
    minhash_index_compact(spark, idx)
    assert found() == want

    recs = [
        {
            "warc_type": "response",
            "url": f"https://crawl.example/page/{i}",
            "date": "2026-01-02T00:00:00Z",
            "record_id": record_ids[i],
            "content_type": "application/http; msgtype=response",
            "body": text_source.synthetic_html_body(i),
        }
        for i in range(n)
    ]
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "seg-000.warc").write_bytes(text_source.encode_warc(recs))
    stats = curate_crawl(spark, str(crawl), str(tmp_path / "wd"))
    assert stats["quality_survivors"] == n
    assert stats["after_dedup"] == 0  # every record id is already indexed


def test_curate_strip_boilerplate(spark, tmp_path):
    """The optional span-removal stage: a paragraph shared by every page
    (a site template) disappears from the exported corpus while each
    page's unique text survives, and the removed-token count lands in
    the stats dict. Default runs leave text untouched."""
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources.text_source import encode_warc

    boiler = (
        "<p>all rights reserved worldwide by the example "
        "corporation contact legal for terms</p>"
    )
    recs = []
    for i in range(24):
        uniq = " ".join(f"u{i}w{j}" for j in range(30))
        html = f"<html><body>{boiler}<p>{uniq}</p></body></html>"
        body = (
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n" + html
        )
        recs.append(
            {
                "warc_type": "response",
                "url": f"https://t.example/p/{i}",
                "date": "2026-01-01T00:00:00Z",
                "record_id": f"<urn:uuid:b{i:07d}>",
                "content_type": "application/http; msgtype=response",
                "body": body,
            }
        )
    crawl = str(tmp_path / "c")
    os.makedirs(crawl, exist_ok=True)
    with open(os.path.join(crawl, "seg.warc"), "wb") as f:
        f.write(encode_warc(recs))

    stats = curate_crawl(
        spark,
        crawl,
        str(tmp_path / "wd"),
        quality_min=0.0,
        strip_boilerplate=True,
        boilerplate_min_docs=8,
    )
    assert stats["boiler_tokens_removed"] >= 24 * 12  # 12-token template
    exported = (
        spark.read.option("compression", "gzip")
        .json(str(tmp_path / "wd" / "export" / f"drop={stats['drop_tag']}"))
        .collect()
    )
    assert len(exported) == stats["after_mixture"] > 0
    for r in exported:
        assert "rights reserved" not in r["text"]
        assert "u" in r["text"]  # the page's unique words survived
    # control: without the flag the template stays and no stat appears
    stats2 = curate_crawl(
        spark, crawl, str(tmp_path / "wd2"), quality_min=0.0
    )
    assert "boiler_tokens_removed" not in stats2
    exported2 = (
        spark.read.option("compression", "gzip")
        .json(str(tmp_path / "wd2" / "export" / f"drop={stats2['drop_tag']}"))
        .collect()
    )
    assert any("rights reserved" in r["text"] for r in exported2)


def test_cli_curate_subcommand(spark, tmp_path):
    from ct_mapreduce_spark.cli import main as cli_main
    from ct_mapreduce_spark.sources import text_source

    crawl = str(tmp_path / "crawl")
    text_source.synthetic_warc_html_fixture(crawl, n=32)
    rc = cli_main(
        [
            "curate",
            "--warc",
            crawl,
            "--workdir",
            str(tmp_path / "wd"),
            "--export-shards",
            "1",
        ],
        spark=spark,
    )
    assert rc == 0
    from ct_mapreduce_spark.operators.dedup_fuzzy import minhash_index_exists

    assert minhash_index_exists(spark, str(tmp_path / "wd" / "mh_index"))
    export = tmp_path / "wd" / "export" / "drop=drop-0000"
    assert len(list(export.glob("part-*.json.gz"))) == 1
    # r8 flags reach the plan: decontam dictionary artifact + PII scrub
    import json as _json

    suite = tmp_path / "suite"
    suite.mkdir()
    (suite / "b.jsonl").write_text(
        _json.dumps({"doc_id": 0, "text": "x " * 20, "lang": "en"})
    )
    rc2 = cli_main(
        [
            "curate",
            "--warc", crawl,
            "--workdir", str(tmp_path / "wd2"),
            "--export-shards", "1",
            "--eval-suite", str(suite),
            "--pii-redact",
        ],
        spark=spark,
    )
    assert rc2 == 0
    assert (tmp_path / "wd2" / "eval_grams" / "_SUCCESS").exists()


def test_warc_to_curation_pipeline(spark, tmp_path):
    """WARC -> documents frame -> an existing text operator end-to-end."""
    from ct_mapreduce_spark.operators.text import text_stats

    recs = [
        {
            "warc_type": "response",
            "url": f"https://example.test/{i}",
            "record_id": f"<urn:uuid:{i}>",
            "body": ("common boilerplate words " if i % 2 else "unique text ")
            * 10,
        }
        for i in range(10)
    ]
    (tmp_path / "c.warc").write_bytes(encode_warc(recs))
    docs = (
        read_warc(spark, str(tmp_path))
        .where(F.col("warc_type") == "response")
        .select(
            F.xxhash64("record_id").alias("doc_id"), F.col("body").alias("text")
        )
    )
    stats = text_stats(docs)
    assert stats.count() == 10
    assert stats.where(F.col("n_tokens") <= 0).count() == 0


def test_curate_bpe_packing(spark, tmp_path):
    """curate_crawl with bpe_model: the first drop trains and saves the
    merge table, the manifest's token totals are BPE counts (not
    whitespace words), the export rows carry n_bpe_tokens, and a second
    workdir reuses the stored model instead of retraining."""
    from ct_mapreduce_spark.operators import tokenizer
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    crawl = str(tmp_path / "c")
    text_source.synthetic_warc_html_fixture(crawl, n=48)
    model = str(tmp_path / "bpe")
    wd = str(tmp_path / "wd")
    s1 = curate_crawl(spark, crawl, wd, bpe_model=model, bpe_merges=64)
    assert s1["bpe_merges"] > 0
    merges = tokenizer.load_merges(spark, model)
    assert len(merges) == s1["bpe_merges"]

    exported = spark.read.option("compression", "gzip").json(
        wd + "/export/drop=drop-0000"
    )
    assert "n_bpe_tokens" in exported.columns
    from pyspark.sql import functions as F

    total_bpe = exported.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    manifest = spark.read.parquet(wd + "/manifest/drop=drop-0000")
    assert manifest.agg(F.sum("n_tokens")).collect()[0][0] == total_bpe

    # a fresh workdir against the SAME model path loads, not retrains:
    # the merge table on disk is byte-identical after the second run
    import os

    before = sorted(os.listdir(model))
    wd2 = str(tmp_path / "wd2")
    s2 = curate_crawl(spark, crawl, wd2, bpe_model=model, bpe_merges=64)
    assert s2["bpe_merges"] == s1["bpe_merges"]
    assert sorted(os.listdir(model)) == before
    assert tokenizer.load_merges(spark, model) == merges


def test_curate_token_budget(spark, tmp_path):
    """curate_crawl with a DSIR token budget: the export is capped at
    the budget (inclusive running total), selection keeps the
    highest-importance docs, the trained weight table persists at
    dsir_model, and a later run with NO target reuses it. Selection
    ordering correctness itself is covered by tests/test_selection.py;
    this test owns the pipeline wiring."""
    import json
    import os

    from pyspark.sql import functions as F

    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    crawl = str(tmp_path / "c")
    text_source.synthetic_warc_html_fixture(crawl, n=48)

    # un-budgeted reference drop: total whitespace tokens of the export
    wd0 = str(tmp_path / "wd0")
    s0 = curate_crawl(spark, crawl, wd0)
    exported0 = spark.read.option("compression", "gzip").json(
        wd0 + "/export/drop=drop-0000"
    )
    total_tokens = exported0.agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).collect()[0][0]
    assert total_tokens > 0

    # target distribution: a handful of the corpus's own pages as JSONL
    target_dir = tmp_path / "target"
    target_dir.mkdir()
    sample = exported0.limit(5).collect()
    (target_dir / "t.jsonl").write_text(
        "\n".join(
            json.dumps(
                {"doc_id": i, "text": r["text"], "lang": "en"}
            )
            for i, r in enumerate(sample)
        )
    )

    budget = int(total_tokens) // 2
    model = str(tmp_path / "dsir")
    wd1 = str(tmp_path / "wd1")
    s1 = curate_crawl(
        spark,
        crawl,
        wd1,
        token_budget=budget,
        dsir_target=str(target_dir),
        dsir_model=model,
        dsir_buckets=256,
    )
    assert 0 < s1["after_budget"] < s1["after_mixture"]
    assert 0 < s1["budget_tokens"] <= budget
    exported1 = spark.read.option("compression", "gzip").json(
        wd1 + "/export/drop=drop-0000"
    )
    assert exported1.count() == s1["after_budget"]
    assert (
        exported1.agg(
            F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        ).collect()[0][0]
        == s1["budget_tokens"]
    )
    assert os.path.exists(os.path.join(model, "_SUCCESS"))
    w = spark.read.parquet(model)
    assert w.count() == 256  # dsir_buckets rows — model parameters

    # fresh workdir, NO dsir_target: the stored model is loaded, weights
    # on disk stay byte-identical
    before = sorted(os.listdir(model))
    wd2 = str(tmp_path / "wd2")
    s2 = curate_crawl(
        spark, crawl, wd2, token_budget=budget, dsir_model=model
    )
    assert s2["after_budget"] > 0
    assert sorted(os.listdir(model)) == before

    # budget without target or model is a hard error, not a silent skip
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dsir_target"):
        curate_crawl(
            spark, crawl, str(tmp_path / "wd3"), token_budget=budget
        )


def test_curate_lm_filter(spark, tmp_path):
    """curate_crawl with the perplexity gate: a permissive threshold
    keeps every quality survivor while training+saving the model; a
    median-level threshold (computed by re-scoring the export under the
    STORED model) actually filters, and the second run loads the stored
    model instead of retraining."""
    import os

    from pyspark.sql import functions as F

    from ct_mapreduce_spark.operators.lm import lm_score
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    crawl = str(tmp_path / "c")
    text_source.synthetic_warc_html_fixture(crawl, n=48)
    model = str(tmp_path / "lm")
    wd1 = str(tmp_path / "wd1")
    s1 = curate_crawl(
        spark, crawl, wd1, lm_max_xent=10**9, lm_model=model
    )
    assert s1["after_lm"] == s1["quality_survivors"]
    assert os.path.exists(os.path.join(model, "_SUCCESS"))

    stored = spark.read.parquet(model)
    assert {"token", "n", "logp_micro"} <= set(stored.columns)
    exported = spark.read.option("compression", "gzip").json(
        wd1 + "/export/drop=drop-0000"
    )
    xents = sorted(
        r.xent_micro
        for r in lm_score(
            exported.select("doc_id", "text"), stored
        ).collect()
    )
    cut = xents[len(xents) // 2]  # median keeps roughly half
    before = sorted(os.listdir(model))

    wd2 = str(tmp_path / "wd2")
    s2 = curate_crawl(spark, crawl, wd2, lm_max_xent=cut, lm_model=model)
    assert 0 < s2["after_lm"] < s2["quality_survivors"]
    assert sorted(os.listdir(model)) == before  # loaded, not retrained


def test_curate_lm_filter_bigram_order(spark, tmp_path):
    """lm_order=2: both artifacts (unigram + {model}_bi bigram table)
    train and persist on the first drop and load on the second; the gate
    actually scores under stupid backoff (median cut computed with
    lm_score_backoff filters); an order-2 gate over a persisted order-1
    model is a hard error, never a silent unigram fallback."""
    import os

    import pytest as _pytest

    from ct_mapreduce_spark.operators.lm import lm_score_backoff
    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources import text_source

    crawl = str(tmp_path / "c")
    text_source.synthetic_warc_html_fixture(crawl, n=48)
    model = str(tmp_path / "lm2")
    wd1 = str(tmp_path / "wd1")
    s1 = curate_crawl(
        spark, crawl, wd1, lm_max_xent=10**9, lm_model=model, lm_order=2
    )
    assert s1["after_lm"] == s1["quality_survivors"]
    assert os.path.exists(os.path.join(model, "_SUCCESS"))
    assert os.path.exists(os.path.join(model + "_bi", "_SUCCESS"))
    bi = spark.read.parquet(model + "_bi")
    assert {"w1", "w2", "n", "logs_micro"} <= set(bi.columns)

    uni = spark.read.parquet(model)
    exported = spark.read.option("compression", "gzip").json(
        wd1 + "/export/drop=drop-0000"
    )
    xents = sorted(
        r.xent_micro
        for r in lm_score_backoff(
            exported.select("doc_id", "text"), uni, bi
        ).collect()
    )
    cut = xents[len(xents) // 2]
    before_u = sorted(os.listdir(model))
    before_b = sorted(os.listdir(model + "_bi"))

    wd2 = str(tmp_path / "wd2")
    s2 = curate_crawl(
        spark, crawl, wd2, lm_max_xent=cut, lm_model=model, lm_order=2
    )
    assert 0 < s2["after_lm"] < s2["quality_survivors"]
    assert sorted(os.listdir(model)) == before_u  # loaded, not retrained
    assert sorted(os.listdir(model + "_bi")) == before_b

    # order-1 artifact + order-2 gate: hard error
    model1 = str(tmp_path / "lm_order1")
    curate_crawl(
        spark,
        crawl,
        str(tmp_path / "wd3"),
        lm_max_xent=10**9,
        lm_model=model1,
    )
    with _pytest.raises(ValueError, match="order 1"):
        curate_crawl(
            spark,
            crawl,
            str(tmp_path / "wd4"),
            lm_max_xent=10**9,
            lm_model=model1,
            lm_order=2,
        )


def test_curate_decontaminate_and_pii(spark, tmp_path):
    """curate_crawl with the two r8 composable stages: documents
    containing a benchmark 8-gram are dropped (eval_suite), the
    eval-gram dictionary persists at {workdir}/eval_grams across drops,
    and pii_redact scrubs emails/IPs from the exported text itself
    (never from dedup's view — redaction runs last). Operator-level
    correctness is owned by docs_decontaminate / docs_pii_redact; this
    test owns the pipeline wiring."""
    import json
    import os

    from ct_mapreduce_spark.plans.curate import curate_crawl
    from ct_mapreduce_spark.sources.text_source import encode_warc

    leak = (
        "the quick brown benchmark answer is exactly forty two "
        "for every heldout question"
    )
    recs = []
    for i in range(24):
        uniq = " ".join(f"pg{i}tok{j} word{j} item{j}" for j in range(20))
        extra = ""
        if i < 4:  # contaminated pages embed the benchmark passage
            extra = f"<p>{leak}</p>"
        if 4 <= i < 8:  # PII pages leak an email and an IP
            extra = (
                f"<p>contact agent{i}@mail.example or "
                f"ping 10.0.0.{i} for details</p>"
            )
        html = f"<html><body><p>{uniq}</p>{extra}</body></html>"
        body = (
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n" + html
        )
        recs.append(
            {
                "warc_type": "response",
                "url": f"https://t.example/p/{i}",
                "date": "2026-01-01T00:00:00Z",
                "record_id": f"<urn:uuid:d{i:07d}>",
                "content_type": "application/http; msgtype=response",
                "body": body,
            }
        )
    crawl = str(tmp_path / "c")
    os.makedirs(crawl, exist_ok=True)
    with open(os.path.join(crawl, "seg.warc"), "wb") as f:
        f.write(encode_warc(recs))

    suite = tmp_path / "suite"
    suite.mkdir()
    (suite / "bench.jsonl").write_text(
        json.dumps({"doc_id": 0, "text": leak, "lang": "en"})
    )

    wd = str(tmp_path / "wd")
    stats = curate_crawl(
        spark,
        crawl,
        wd,
        quality_min=0.0,
        eval_suite=str(suite),
        pii_redact=True,
    )
    # the 4 contaminated pages dropped at the decontam stage
    assert stats["after_decontam"] == stats.get(
        "after_lm", stats["quality_survivors"]
    ) - 4
    assert stats["pii_redactions"] >= 8  # 4 pages x (1 email + 1 ip)
    assert os.path.exists(os.path.join(wd, "eval_grams", "_SUCCESS"))

    exported = (
        spark.read.option("compression", "gzip")
        .json(wd + f"/export/drop={stats['drop_tag']}")
        .collect()
    )
    assert len(exported) == stats["after_mixture"] > 0
    joined = " ".join(r["text"] for r in exported)
    assert "benchmark answer" not in joined  # eval leak gone
    assert "@mail.example" not in joined  # emails scrubbed...
    assert "<EMAIL>" in joined  # ...to the placeholder token
    assert "<IPV4>" in joined

    # second drop: the persisted gram dictionary is REUSED (byte-
    # identical on disk) and still drops a re-leak of the same passage
    dict_files = sorted(os.listdir(os.path.join(wd, "eval_grams")))
    crawl2 = str(tmp_path / "c2")
    os.makedirs(crawl2, exist_ok=True)
    recs2 = []
    for i in range(8):
        uniq = " ".join(f"r2pg{i}tok{j} fresh{j} again{j}" for j in range(20))
        extra = f"<p>{leak}</p>" if i == 0 else ""
        html = f"<html><body><p>{uniq}</p>{extra}</body></html>"
        body = (
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(html)}\r\n\r\n" + html
        )
        recs2.append(
            {
                "warc_type": "response",
                "url": f"https://t2.example/p/{i}",
                "date": "2026-01-02T00:00:00Z",
                "record_id": f"<urn:uuid:e{i:07d}>",
                "content_type": "application/http; msgtype=response",
                "body": body,
            }
        )
    with open(os.path.join(crawl2, "seg.warc"), "wb") as f:
        f.write(encode_warc(recs2))
    stats2 = curate_crawl(
        spark, crawl2, wd, quality_min=0.0, eval_suite=str(suite)
    )
    assert stats2["after_decontam"] == stats2.get(
        "after_lm", stats2["quality_survivors"]
    ) - 1
    assert sorted(os.listdir(os.path.join(wd, "eval_grams"))) == dict_files

    # the persisted dictionary is only valid at the k it was shingled
    # with: a run at a different k must refuse it loudly (probing
    # 5-grams against an 8-gram dictionary silently scores ~zero hits —
    # a decontamination gate that looks green while leaking)
    import pytest

    with pytest.raises(ValueError, match="decontam_k"):
        curate_crawl(
            spark,
            crawl2,
            wd,
            quality_min=0.0,
            eval_suite=str(suite),
            decontam_k=5,
        )

    # stage-wall profile: every executed stage got a timing (the r9
    # drift-attribution instrumentation)
    assert {
        "extract",
        "quality",
        "decontam",
        "dedup",
        "mixture",
        "pii",
        "pack_export",
    } <= set(stats["stage_walls"])
    assert all(w >= 0 for w in stats["stage_walls"].values())
    # r13: dedup sub-stage walls (the x100 rung's follow-up — dedup is
    # ~95% of drop-1, so the profile must say WHICH tier). Sub-intervals
    # partition the aggregate dedup wall.
    sub = [k for k in stats["stage_walls"] if k.startswith("dedup_")]
    assert {"dedup_sign", "dedup_within", "dedup_fold"} <= set(sub)
    sub_total = sum(stats["stage_walls"][k] for k in sub)
    assert abs(sub_total - stats["stage_walls"]["dedup"]) < 0.25, (
        sub_total, stats["stage_walls"]
    )

    # control: default run has neither stage nor stats keys
    stats3 = curate_crawl(spark, crawl, str(tmp_path / "wd3"), quality_min=0.0)
    assert "after_decontam" not in stats3 and "pii_redactions" not in stats3
    assert "decontam" not in stats3["stage_walls"]
    assert "pii" not in stats3["stage_walls"]
