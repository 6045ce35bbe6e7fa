"""Declared query corpus: one entry per implemented operator (SURVEY §2).

Each entry pairs a Spark DataFrame query with the equivalent ANSI SQL for
the DuckDB oracle (driver correctness gate). Naming follows SURVEY §2 ids
(S=scan, P=projection/filter, D=dedup, A=aggregation, J=join, W=window,
O=order/limit, U=set ops, T=streaming/time).

Hash-match discipline (the driver compares order-insensitive value hashes):
- every computed column aliased identically on both sides;
- double-typed SUMs go through DECIMAL so partial-aggregation order can't
  change low bits (decimal addition is associative; float addition is not),
  then CAST back to DOUBLE (exact);
- timestamps rendered as strings (UTC session both sides);
- row_number ties always broken by a unique column.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ct_mapreduce_spark.functions.codecs import (
    base64url,
    serial_bigint,
    serial_hex,
    spki_issuer_id,
    spki_or_fallback,
    unique_cert_id,
)
from ct_mapreduce_spark.functions.dates import exp_date_day, exp_date_hour
from ct_mapreduce_spark.functions.urls import normalize_crl_dps
from ct_mapreduce_spark.operators.dedup import first_seen
from ct_mapreduce_spark.operators import dedup_fuzzy, multimodal, similarity, text
from ct_mapreduce_spark.operators.util import local_frame
from ct_mapreduce_spark.plans.golden_pins import values_sql as _pin
from ct_mapreduce_spark.sources.tables import load_table


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # None => non-SQL-expressible, rows-only check
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, Query] = {}


def q(name: str, sql: Optional[str], *tags: str):
    def deco(fn):
        REGISTRY[name] = Query(fn=fn, sql=sql, tags=tags)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def _cache_tag(sf_dir: str, table: str, gen: str) -> str:
    """Tag for /tmp materializations derived from a testdata table: folds
    a content fingerprint (mtime+size of the source parquet) into the
    hash so an in-place regeneration — which the driver does between
    rounds — invalidates the cache instead of silently serving stale
    derived data. `gen` marks the derived-schema generation (bump it when
    the materialized layout changes, not when the data does)."""
    import hashlib
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(src):
        stats = [os.stat(os.path.join(src, f)) for f in sorted(os.listdir(src))]
        fp = ";".join(f"{s.st_mtime_ns}:{s.st_size}" for s in stats)
    else:
        s = os.stat(src)
        fp = f"{s.st_mtime_ns}:{s.st_size}"
    return hashlib.md5(f"{sf_dir}|{gen}|{fp}".encode()).hexdigest()[:12]


# How many fingerprint generations of one tagged /tmp artifact to keep.
# 2, not 1: the interleaved perf-A/B protocol alternates two worktrees
# whose gens may differ — keeping a pair means neither side evicts the
# other's warm artifact between runs.
_TMP_TAG_KEEP = 2
# Beyond the keep count, only dirs this stale are removed (r12 advice):
# eviction acts on THIS process's view, and a concurrent process (a
# third worktree, or one mid-serve on generation N-2) may still be
# reading a sibling the keep-pair doesn't cover. A recently-touched dir
# is evidence of such a reader; two hours comfortably outlasts a bench
# sweep or A/B session while still bounding long-lived /tmp growth.
_TMP_TAG_MIN_AGE_S = 2 * 3600


def _evict_stale_tagged(path: str) -> None:
    """Disk-side LRU for fingerprint-tagged /tmp artifacts (r11 verdict
    task 4): `path` is `/tmp/<prefix>_<12-hex tag>`; siblings with the
    same prefix but a different tag are stale generations (testdata
    regenerated in place, or the derived-schema gen bumped) that nothing
    will ever read again — a long-lived process cycling fingerprints
    would otherwise leak /tmp disk per generation. Keeps the
    `_TMP_TAG_KEEP` most-recently-modified tagged dirs (including the
    live one); called only from build sites, so a tag that is merely
    cold is never removed mid-serve. Past the keep count, a sibling is
    removed only once its mtime is `_TMP_TAG_MIN_AGE_S` stale — a
    recently-touched dir may belong to a concurrent process this
    process's keep-pair view doesn't cover (r12 advice)."""
    import glob
    import os
    import re
    import shutil
    import time

    prefix, _, tag = path.rpartition("_")
    if not re.fullmatch(r"[0-9a-f]{12}", tag):
        return
    sibs = [
        p
        for p in glob.glob(prefix + "_" + "[0-9a-f]" * 12)
        if p != path and os.path.isdir(p)
    ]
    sibs.sort(key=lambda p: os.path.getmtime(p), reverse=True)
    cutoff = time.time() - _TMP_TAG_MIN_AGE_S
    for p in sibs[_TMP_TAG_KEEP - 1 :]:
        try:
            if os.path.getmtime(p) > cutoff:
                continue
        except OSError:
            continue
        shutil.rmtree(p, ignore_errors=True)


def _dec(c, scale: int = 4):
    """Exact-sum staging: DOUBLE -> DECIMAL(25,scale)."""
    return F.col(c).cast(f"decimal(25,{scale})") if isinstance(c, str) else c.cast(
        f"decimal(25,{scale})"
    )


# Artifact-backed queries: serving-path entries whose first run builds a
# materialized index (disk, fingerprint-tagged under /tmp) or trains a
# model (in-process merge cache). bench.py splits these into explicit
# *_build (cold, one timed run right after artifact_reset) and serve
# (steady-state min-of-N with the artifact guaranteed warm) entries so a
# fresh-container sweep can't book build cost against the serve baseline
# (the r10 12.2x docs_bpe_token_stats false alarm). The (prefix, table,
# gen) triples here are the single source of truth for the /tmp index
# paths — the query bodies resolve through _artifact_path so a reset can
# never drift from the path the query actually caches under.
_ARTIFACT_IDX: dict[str, tuple[str, str, str]] = {
    "docs_incremental_dedup": ("ctspark_mh_idx", "documents", "v4"),
    "emb_pq_indexed_topk": ("ctspark_pq_idx", "embeddings", "v1"),
    "emb_pq_ivf_topk": ("ctspark_pqivf_idx", "embeddings", "v1"),
}

ARTIFACT_BACKED: tuple[str, ...] = tuple(_ARTIFACT_IDX) + (
    "docs_bpe_token_stats",
)


def _artifact_path(query: str, sf_dir: str) -> str:
    prefix, table, gen = _ARTIFACT_IDX[query]
    return f"/tmp/{prefix}_{_cache_tag(sf_dir, table, gen)}"


def artifact_reset(query: str, sf_dir: str) -> None:
    """Force the next run of an artifact-backed query to rebuild its
    artifact: rm the fingerprint-tagged /tmp index, or clear the
    in-process BPE merge cache. No-op for other queries."""
    if query == "docs_bpe_token_stats":
        _BPE_MERGE_CACHE.clear()
        return
    if query in _ARTIFACT_IDX:
        import shutil

        shutil.rmtree(_artifact_path(query, sf_dir), ignore_errors=True)


# ---------------------------------------------------------------------------
# A. Aggregations (reference: storage-statistics, SURVEY §2.4)
# ---------------------------------------------------------------------------


@q(
    "a1_count_per_bucket",
    """
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') AS exp_bucket,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_rows
    FROM events GROUP BY 1, 2
    """,
    "agg",
)
def a1_count_per_bucket(spark, sf_dir):
    """A1 (knowncertificates.go:57-63): per-(key, hour-bucket) exact
    distinct counts — SCARD of `serials::<expDate>::<issuer>` restated as
    one grouped aggregation over the events analog."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", exp_date_hour("ts").alias("exp_bucket")
    ).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@q(
    "a3_stats_rollup",
    """
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS exp_day,
           count(DISTINCT event_type || '|' || strftime(date_trunc('day', ts), '%Y-%m-%d')
                 || '|' || user_id) AS n_keys,
           count(*) AS n_rows,
           GROUPING(event_type) AS g_type,
           GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS g_day
    FROM events
    GROUP BY ROLLUP (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))
    """,
    "agg",
)
def a3_stats_rollup(spark, sf_dir):
    """A1→A2→A3 (storage-statistics.go:36-82): the 3-level report is one
    GROUP BY ROLLUP; higher levels are additive sums of leaf distinct
    counts (see operators/statistics.py)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", exp_date_day("ts").alias("exp_day"), "user_id"
    )
    return ev.rollup("event_type", "exp_day").agg(
        F.count_distinct(
            F.concat_ws("|", "event_type", "exp_day", "user_id")
        ).alias("n_keys"),
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping("event_type").cast("long").alias("g_type"),
        F.grouping("exp_day").cast("long").alias("g_day"),
    )


@q(
    "a4_group_keys_by_issuer",
    """
    SELECT source,
           array_to_string(list_sort(list(DISTINCT lang)), ',') AS lang_set,
           count(DISTINCT doc_id) AS n_docs
    FROM documents GROUP BY source
    """,
    "agg",
)
def a4_group_keys_by_issuer(spark, sf_dir):
    """A4/D3 (filesystemdatabase.go:59-100, issuermetadata.go:92-138):
    distinct-set accumulation per group key — collect_set, sorted for
    deterministic comparison."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("lang_set"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# D. Deduplication (SURVEY §2.3)
# ---------------------------------------------------------------------------


@q(
    "d1_dedup_first_seen",
    """
    SELECT event_id, user_id, event_type, value FROM (
      SELECT event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
    "dedup",
)
def d1_dedup_first_seen(spark, sf_dir):
    """D1+W1 (knowncertificates.go:36-55): WasUnknown gating = keep only
    the first-seen row per key; winner = min(event_id) for determinism.
    Implemented as min_by aggregation (map-side combinable) rather than a
    window so the shuffle carries one candidate per key per partition."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return first_seen(ev, keys=("user_id", "event_type"), order_col="event_id")


# ---------------------------------------------------------------------------
# S. Scans / lookups (SURVEY §2.1)
# ---------------------------------------------------------------------------


@q(
    "s4_point_lookup",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day
    FROM lineitem
    WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
    """,
    "scan",
)
def s4_point_lookup(spark, sf_dir):
    """S4 (cmd/ct-getcert/ct-getcert.go:16-57): point lookup by key. The
    scalar subquery becomes a broadcast single-row join."""
    li = _t(spark, sf_dir, "lineitem")
    mn = li.agg(F.min("l_orderkey").alias("l_orderkey"))
    return li.join(F.broadcast(mn), "l_orderkey").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )


@q(
    "s8_partition_pruning",
    """
    SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_bucket
    FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    """,
    "scan",
)
def s8_partition_pruning(spark, sf_dir):
    """S8 (localdiskbackend.go:93-119): enumerate non-expired date
    partitions — a pruned distinct over the bucket key; on the partitioned
    store this predicate prunes directories before any IO."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("ts") >= F.lit("2024-01-15 00:00:00"))
        .select(exp_date_day("ts").alias("day_bucket"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# P. Projections / scalar functions (SURVEY §2.2, §2.7)
# ---------------------------------------------------------------------------


@q(
    "p6_crl_normalize",
    """
    SELECT issuer, url FROM (
      SELECT DISTINCT t.issuer, trim(u.url) AS url
      FROM (VALUES
        ('i1', ['http://a/crl', 'ldap://d/cn=x', '  http://a/crl  ']),
        ('i2', ['https://b/int.crl', 'ftp://f/ca.crl', 'ldaps://d/cn=y']),
        ('i3', ['http://c/1.crl', 'https://c/2.crl'])
      ) AS t(issuer, urls), UNNEST(t.urls) AS u(url)
      WHERE trim(u.url) SIMILAR TO 'https?://.*') x
    """,
    "projection",
)
def p6_crl_normalize(spark, sf_dir):
    """P6 (issuermetadata.go:48-60): CRL DP normalization — trim, keep only
    http(s) (ldap silently dropped), distinct. Golden literals from
    issuermetadata_test.go:16-60."""
    rows = [
        ("i1", ["http://a/crl", "ldap://d/cn=x", "  http://a/crl  "]),
        ("i2", ["https://b/int.crl", "ftp://f/ca.crl", "ldaps://d/cn=y"]),
        ("i3", ["http://c/1.crl", "https://c/2.crl"]),
    ]
    df = spark.createDataFrame(rows, "issuer string, urls array<string>")
    return df.select(
        "issuer", F.explode(normalize_crl_dps("urls")).alias("url")
    ).distinct()


@q(
    "p7_key_derivations",
    """
    SELECT name,
           lower(hex(b)) AS serial_hex,
           replace(replace(to_base64(b), '+', '-'), '/', '_') AS serial_id,
           d AS spki_sha256,
           replace(replace(to_base64(unhex(d)), '+', '-'), '/', '_')
             AS issuer_id,
           sb AS serial_bigint
    FROM (SELECT t.name, unhex(t.h) AS b, t.d, t.sb FROM (VALUES
            ('deadbeef', 'DEADBEEF',
             '5f78c33274e43fa9de5659265c1d917e25c03722dcb0b8d27db8d5feaa813953',
             '3735928559'),
            ('leading_zero', '00AA',
             'd2c79d9973bfdaa70e406338d4f4b77e4941dbf90fa84bbbe6769808587528ad',
             '170'),
            ('spki_ff', 'FF',
             'a8100ae6aa1940d0b663bb31cd466142ebbdbd5187131b92d93818987832eb89',
             '255'),
            ('long', '0102030405060708090A0B0C0D0E0F1011',
             'a9ce213e0c75b432a9e5c166e4f38e661ec95a3370cd111c72688ecb4b503205',
             NULL)
          ) AS t(name, h, d, sb)) s
    """,
    "projection",
)
def p7_key_derivations(spark, sf_dir):
    """P7 (storage/types.go:210-224,147-159,124-130): the key-derivation
    codec family on golden byte vectors (types_test.go:41-101). Includes a
    17-byte serial (types_test.go:130-150) — identity stays binary/hex and
    serial_bigint goes NULL past its exact-decimal range (the oracle
    carries the big.Int goldens as literals)."""
    rows = [
        ("deadbeef", bytes.fromhex("DEADBEEF")),
        ("leading_zero", bytes.fromhex("00AA")),
        ("spki_ff", bytes.fromhex("FF")),
        ("long", bytes.fromhex("0102030405060708090A0B0C0D0E0F1011")),
    ]
    df = spark.createDataFrame(rows, "name string, b binary")
    return df.select(
        "name",
        serial_hex("b").alias("serial_hex"),
        base64url("b").alias("serial_id"),
        F.sha2("b", 256).alias("spki_sha256"),
        spki_issuer_id("b").alias("issuer_id"),
        # string-rendered: DECIMAL(38,0) crosses engine/pandas boundaries
        # as float and breaks value comparison; the digits are the payload
        serial_bigint("b").cast("string").alias("serial_bigint"),
    )


@q(
    "p8_spki_fallback",
    """
    SELECT name,
           CASE WHEN octet_length(skid) < 8
                THEN expected_sha1_hex
                ELSE lower(hex(skid)) END AS authority_hex
    FROM (SELECT t.name, unhex(t.skid_hex) AS skid, t.expected_sha1_hex
          FROM (VALUES
            ('short_skid', '010203', '39955cbbbed99703081ddfe1aea5497a3cb98fdd'),
            ('full_skid', '0102030405060708090A', NULL),
            ('empty_skid', '', '39955cbbbed99703081ddfe1aea5497a3cb98fdd')
          ) AS t(name, skid_hex, expected_sha1_hex)) s
    """,
    "projection",
)
def p8_spki_fallback(spark, sf_dir):
    """P8 (filesystemdatabase.go:146-156): SKID<8 bytes -> sha1(SPKI)
    fallback. DuckDB lacks sha1, so the oracle carries the precomputed
    digest of the fixed SPKI literal b'some-spki-bytes' — still a golden
    check of Spark's sha1 path (filesystemdatabase_test.go:80-111)."""
    spki = b"some-spki-bytes"  # sha1 = 39955cbbbed99703081ddfe1aea5497a3cb98fdd
    rows = [
        ("short_skid", bytes.fromhex("010203"), spki),
        ("full_skid", bytes.fromhex("0102030405060708090A"), spki),
        ("empty_skid", b"", spki),
    ]
    df = spark.createDataFrame(rows, "name string, skid binary, spki binary")
    return df.select(
        "name", F.lower(F.hex(spki_or_fallback("skid", "spki"))).alias("authority_hex")
    )


@q(
    "p7b_unique_cert_id",
    """
    SELECT exp_date || '::' || issuer || '::' ||
           replace(replace(to_base64(unhex(serial_hex)), '+', '-'), '/', '_')
             AS cert_key
    FROM (VALUES ('2019-04-28-22', 'an issuer', '0104AAFF'),
                 ('2024-01-01-06', 'issuerAKI', '00AA'))
         AS t(exp_date, issuer, serial_hex)
    """,
    "projection",
)
def p7b_unique_cert_id(spark, sf_dir):
    """UniqueCertIdentifier composite key (types.go:273-306,
    types_test.go:254-269)."""
    rows = [
        ("2019-04-28-22", "an issuer", bytes.fromhex("0104AAFF")),
        ("2024-01-01-06", "issuerAKI", bytes.fromhex("00AA")),
    ]
    df = spark.createDataFrame(rows, "exp_date string, issuer string, serial binary")
    return df.select(unique_cert_id("exp_date", "issuer", "serial").alias("cert_key"))


@q(
    "p4_parse_cert",
    """
    SELECT * FROM (VALUES
      ('leading_zero_serial', TRUE, '00aa', 'CN=My First Issuer (tm)',
       'leadingZeros', TIMESTAMP '2019-04-27 22:00:00',
       TIMESTAMP '2019-04-28 22:15:32', FALSE, FALSE, CAST(NULL AS VARCHAR),
       '6e2b930bb9b1835bd9c3c724542de9cfdc92f62b9ecb2fb8a126e1e74ac7a5b8',
       ''),
      ('end_entity', TRUE, '0104aaff', 'CN=My First Issuer (tm)',
       'www.example.com', TIMESTAMP '2019-04-27 22:00:00',
       TIMESTAMP '2019-04-28 22:15:32', FALSE, TRUE, '0102030405060708090a',
       '6e2b930bb9b1835bd9c3c724542de9cfdc92f62b9ecb2fb8a126e1e74ac7a5b8',
       'http://a/crl|ldap://d/cn=x'),
      ('ca_cert', TRUE, '02', 'CN=My First Issuer (tm)',
       'My First Issuer (tm)', TIMESTAMP '2019-04-27 22:00:00',
       TIMESTAMP '2019-04-28 22:15:32', TRUE, TRUE, 'aabbccddeeff00112233',
       '6e2b930bb9b1835bd9c3c724542de9cfdc92f62b9ecb2fb8a126e1e74ac7a5b8',
       'https://b/int.crl'),
      ('short_skid', TRUE, '03', 'CN=My First Issuer (tm)',
       'short-skid', TIMESTAMP '2019-04-27 22:00:00',
       TIMESTAMP '2019-04-28 22:15:32', FALSE, TRUE, '010203',
       '6e2b930bb9b1835bd9c3c724542de9cfdc92f62b9ecb2fb8a126e1e74ac7a5b8',
       ''),
      ('no_bc', TRUE, '04', 'CN=My First Issuer (tm)',
       'no-bc', TIMESTAMP '2019-04-27 22:00:00',
       TIMESTAMP '2019-04-28 22:15:32', FALSE, FALSE, CAST(NULL AS VARCHAR),
       '6e2b930bb9b1835bd9c3c724542de9cfdc92f62b9ecb2fb8a126e1e74ac7a5b8',
       ''),
      ('serial_17_bytes', TRUE, '0102030405060708090a0b0c0d0e0f1011',
       'CN=My First Issuer (tm)', 'wide-serial',
       TIMESTAMP '2019-04-27 22:00:00', TIMESTAMP '2019-04-28 22:15:32',
       FALSE, TRUE, CAST(NULL AS VARCHAR),
       '6e2b930bb9b1835bd9c3c724542de9cfdc92f62b9ecb2fb8a126e1e74ac7a5b8',
       ''),
      ('not_a_cert', FALSE, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS BOOLEAN),
       CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR))
    ) AS t(name, parsed, serial_hex, issuer_dn, subject_cn, not_before,
           not_after, is_ca, basic_constraints_valid, skid_hex, spki_sha256,
           crl_dps)
    """,
    "projection",
)
def p4_parse_cert(spark, sf_dir):
    """P4/§2.9: DER -> struct end-to-end through the Arrow pandas UDF —
    the reference's only irreducible logic (x509.ParseCertificate,
    ct-fetch.go:198-225; raw-serial extraction types.go:165-178). The
    fixtures are generated at runtime from a key *derived* from a fixed
    scalar (functions/x509_fixtures.py), so every parsed field is
    byte-stable across runs and the oracle carries them as golden
    literals — serial leading-zero preservation (types_test.go:81-101),
    17-byte serial (types_test.go:130-150), SKID, CRL DPs, CA flags, and
    the NULL-struct parse-failure tolerance (ct-fetch.go:452-459)."""
    from ct_mapreduce_spark.functions.x509 import parse_cert
    from ct_mapreduce_spark.functions.x509_fixtures import make_fixture_certs

    df = spark.createDataFrame(make_fixture_certs(), "name string, der binary")
    c = parse_cert("der")
    return df.select(
        "name",
        c["serial"].isNotNull().alias("parsed"),
        F.lower(F.hex(c["serial"])).alias("serial_hex"),
        c["issuer_dn"].alias("issuer_dn"),
        c["subject_cn"].alias("subject_cn"),
        c["not_before"].alias("not_before"),
        c["not_after"].alias("not_after"),
        c["is_ca"].alias("is_ca"),
        c["basic_constraints_valid"].alias("basic_constraints_valid"),
        F.lower(F.hex(c["skid"])).alias("skid_hex"),
        F.sha2(c["spki_raw"], 256).alias("spki_sha256"),
        # Joined to a scalar so the driver's pandas-based canonicalizer can
        # sort/hash the column (raw array<string> is unhashable there).
        F.array_join(c["crl_dps"], "|").alias("crl_dps"),
    )


@q(
    "scalar_strings",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           string_split(p_type, ' ')[1] AS type_head,
           concat_ws('|', p_brand, p_type) AS brand_type,
           substr(p_name, 1, 5) AS name5,
           length(p_name) AS name_len,
           trim('  ' || p_name || ' ') AS name_trim
    FROM part
    """,
    "scalar",
)
def scalar_strings(spark, sf_dir):
    """§2.7 string functions: split/trim/substr/concat_ws/startswith
    analogs (types.go:280,314; ct-fetch.go:58-59)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.split("p_type", " ").getItem(0).alias("type_head"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
    )


@q(
    "scalar_json",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
             / count(*) AS avg_k
    FROM events GROUP BY event_type
    """,
    "scalar",
)
def scalar_json(spark, sf_dir):
    """§2.7 JSON (types.go:230-241 analog): extract typed fields from the
    props JSON blob; integer sums are exact."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k"),
    )


@q(
    "scalar_datetime",
    """
    SELECT event_id,
           strftime(ts + INTERVAL 1 HOUR - INTERVAL 1 MILLISECOND,
                    '%Y-%m-%d %H:%M:%S.%g') AS last_good,
           strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') AS bucket_hour,
           CAST(epoch_ms(ts) AS BIGINT) AS unix_ms
    FROM events WHERE event_id < 100
    """,
    "scalar",
)
def scalar_datetime(spark, sf_dir):
    """§2.7 date/interval arithmetic: the reference's lastGood instant =
    bucket + 1h - 1ms (types.go:343,352-353) and unix-ms conversions
    (ct-fetch.go:72-75)."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 100)
    return ev.select(
        "event_id",
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 1 HOUR") - F.expr("INTERVAL 1 MILLISECOND"),
            "yyyy-MM-dd HH:mm:ss.SSS",
        ).alias("last_good"),
        exp_date_hour("ts").alias("bucket_hour"),
        F.unix_millis("ts").alias("unix_ms"),
    )


# ---------------------------------------------------------------------------
# J. Joins (SURVEY §2.5)
# ---------------------------------------------------------------------------


@q(
    "j1_cert_issuer_join",
    """
    SELECT n_name, r_name, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
    "join",
)
def j1_cert_issuer_join(spark, sf_dir):
    """J1 (ct-fetch.go:215-225): cert↔issuer structural join restated
    relationally — fact joined to tiny dims; both dims broadcast (no
    shuffle of the fact side)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
        )
    )


@q(
    "j2_key_lookup_join",
    """
    SELECT o.o_orderkey, o.o_orderdate_s AS o_orderdate, o.o_totalprice,
           l.n_lines, l.sum_qty
    FROM (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
                 o_totalprice FROM orders) o
    JOIN (SELECT l_orderkey, count(*) AS n_lines,
                 CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty
          FROM lineitem GROUP BY l_orderkey) l
      ON o.o_orderkey = l.l_orderkey
    """,
    "join",
)
def j2_key_lookup_join(spark, sf_dir):
    """J2 (storage-statistics.go:36-55): the nested-loop of Redis point
    lookups becomes one equi-join between the key table and per-key
    aggregates — partial agg before the join shrinks the shuffle."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_totalprice",
    )
    lagg = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )
    return o.join(lagg, o.o_orderkey == lagg.l_orderkey).drop("l_orderkey")


@q(
    "j3_semi_join",
    """
    SELECT c_nationkey, count(*) AS n_customers_with_orders
    FROM customer WHERE EXISTS
      (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    "join",
)
def j3_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers_with_orders"))
    )


@q(
    "j4_anti_join",
    """
    SELECT c_nationkey, count(*) AS n_customers_without_orders
    FROM customer WHERE NOT EXISTS
      (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    "join",
)
def j4_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
    )


# ---------------------------------------------------------------------------
# TPC-H-style analytical queries (the relational capability the engine adds
# beyond the reference — SURVEY §2.5 "engine provides them anyway")
# ---------------------------------------------------------------------------


@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE)
             AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(6,4)))
                    * (1 + CAST(l_tax AS DECIMAL(6,4)))), 4) AS DOUBLE) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "tpch",
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy multi-aggregate — the bench headline for
    raw aggregation throughput. Decimal staging keeps sums exact."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    px = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    tax = F.col("l_tax").cast("decimal(6,4)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(px).cast("double").alias("sum_base_price"),
            F.round(F.sum(px * (F.lit(1) - disc)), 4)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(px * (F.lit(1) - disc) * (F.lit(1) + tax)), 4)
            .cast("double")
            .alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "q3_top_unshipped",
    """
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(25,4))
                    * (1 - CAST(l_discount AS DECIMAL(25,4)))), 4) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "tpch",
)
def q3_top_unshipped(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> fact join -> top-k.
    Customer side is filtered then broadcast."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00")
    )
    px, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(
            F.round(F.sum(px * (F.lit(1) - disc)), 4)
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@q(
    "q5_region_revenue",
    """
    SELECT r_name, n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(25,4))
                    * (1 - CAST(l_discount AS DECIMAL(25,4)))), 4) AS DOUBLE) AS revenue
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name, n_name
    """,
    "tpch",
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: star join up the dimension chain; all dims
    broadcast, single shuffle for the final aggregate."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    px, disc = _dec("l_extendedprice"), _dec("l_discount")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(px * (F.lit(1) - disc)), 4)
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# O/W/U. Sorts, top-k, windows, set ops (SURVEY §2.6)
# ---------------------------------------------------------------------------


@q(
    "o3_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    "order",
)
def o3_topk(spark, sf_dir):
    """O3: global top-k — Spark's TakeOrderedAndProject (per-partition
    heap + driver merge; no full sort, no single-node shuffle)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


@q(
    "w2_topk_per_group",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn AS rank
    FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice DESC,
                                             l_orderkey, l_linenumber) AS rn
          FROM lineitem) t
    WHERE rn <= 3
    """,
    "window",
)
def w2_topk_per_group(spark, sf_dir):
    """Top-k per group where the group count is tiny (3 return flags).
    A naive window over l_returnflag historically shuffled EVERY row into
    3 sort tasks; Spark >= 3.5 inserts WindowGroupLimit around the rank
    filter — a PARTIAL top-k per input task BEFORE the exchange (visible
    in the executed plan), so only <= k rows per (task, group) shuffle
    into the final per-group sort. That is exactly the two-stage
    local-top-k/global-top-k shape this query hand-built through round 4
    (spark_partition_id in the window key); the built-in form is both
    simpler and measured ~25% faster at sf0.1 because it drops the extra
    full-table (_pid, group) exchange the manual stage paid. Results are
    identical (verified against the manual form)."""
    li = _t(spark, sf_dir, "lineitem")
    order = [F.desc("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")]
    w_global = W.partitionBy("l_returnflag").orderBy(*order)
    return (
        li.withColumn("rank", F.row_number().over(w_global))
        .where(F.col("rank") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rank")
    )


@q(
    "w3_running_sum",
    """
    SELECT user_id, event_id,
           CAST(sum(CAST(value AS DECIMAL(25,6)))
                OVER (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_value
    FROM events
    """,
    "window",
)
def w3_running_sum(spark, sf_dir):
    """Running aggregate; decimal staging because window-sum evaluation
    order differs across engines (segment tree vs sequential)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(25,6)")).over(w).cast("double").alias(
            "running_value"
        ),
    )


@q(
    "u1_union",
    """
    SELECT src, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM (
      SELECT 'hi' AS src, value FROM events WHERE value >= 15
      UNION ALL
      SELECT 'err' AS src, value FROM events WHERE event_type = 'error'
    ) t GROUP BY src
    """,
    "setop",
)
def u1_union(spark, sf_dir):
    """U1 (ct-fetch.go:132,527-565): multi-source streams merged into one —
    unionByName with a discriminator column."""
    ev = _t(spark, sf_dir, "events")
    hi = ev.where(F.col("value") >= 15).select(F.lit("hi").alias("src"), "value")
    err = ev.where(F.col("event_type") == "error").select(
        F.lit("err").alias("src"), "value"
    )
    return (
        hi.unionByName(err)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


@q(
    "u2_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    "setop",
)
def u2_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@q(
    "u3_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
    "setop",
)
def u3_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


# ---------------------------------------------------------------------------
# T. Event-time windows over the events stream table (SURVEY §2.8 T4)
# ---------------------------------------------------------------------------


@q(
    "t4_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "time",
)
def t4_tumbling_window(spark, sf_dir):
    """T4: tumbling event-time window ≡ the reference's hour-bucket key
    (types.go:339-346). Uses Spark's native window() so the same plan runs
    under Structured Streaming unchanged."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@q(
    "t4b_sliding_window",
    """
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM (
      SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - k.k * 1800)
                  AS TIMESTAMP) AS ws, value
      FROM events, (VALUES (0), (1)) AS k(k)
    ) t
    GROUP BY ws
    """,
    "time",
)
def t4b_sliding_window(spark, sf_dir):
    """T4: sliding window (1h length, 30m slide) — each event contributes
    to 2 windows. Oracle replays the window-assignment arithmetic."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sum_value",
        )
    )


@q(
    "t4c_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM numbered GROUP BY user_id, session_id
    """,
    "time",
)
def t4c_sessionize(spark, sf_dir):
    """T4: session windows (30-min gap) via the lag+cumsum composition —
    the batch equivalent of streaming session_window()."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(wc))
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# North-star: text analysis over `documents` (SURVEY §7 Phase 4)
# ---------------------------------------------------------------------------


@q(
    "docs_text_stats",
    r"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+)', 1))
             AS n_bpe_tokens,
           CAST(length(text) AS DOUBLE)
             / greatest(len(string_split_regex(trim(text), '\s+')), 1)
             AS chars_per_token,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS upper_ratio,
           len(list_distinct(string_split_regex(trim(text), '\s+')))
             AS n_distinct_tokens,
           CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
             / greatest(len(string_split_regex(trim(text), '\s+')), 1)
             AS distinct_ratio
    FROM documents
    """,
    "text",
)
def docs_text_stats(spark, sf_dir):
    """Token counting + quality scoring, all built-in expressions (no
    Python in the loop — see operators/text.py)."""
    return text.text_stats(_t(spark, sf_dir, "documents"))


@q(
    "docs_lang_id",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), scored AS (
      SELECT doc_id,
        len(list_filter(w, t -> list_contains(
          ['der','die','das','und','ist','nicht','ein','zu'], t))) AS de_score,
        len(list_filter(w, t -> list_contains(
          ['the','and','of','to','a','in','is','that'], t))) AS en_score,
        len(list_filter(w, t -> list_contains(
          ['el','la','de','que','y','en','un','es'], t))) AS es_score,
        len(list_filter(w, t -> list_contains(
          ['le','la','et','les','des','un','une','est'], t))) AS fr_score,
        len(list_filter(w, t -> list_contains(
          ['的','是','了','在','和','有','我','不'], t))) AS zh_score
      FROM toks
    )
    SELECT doc_id, de_score, en_score, es_score, fr_score, zh_score,
           CASE WHEN greatest(de_score, en_score, es_score, fr_score, zh_score) = 0
                THEN 'und'
                WHEN de_score = greatest(de_score, en_score, es_score, fr_score, zh_score) THEN 'de'
                WHEN en_score = greatest(de_score, en_score, es_score, fr_score, zh_score) THEN 'en'
                WHEN es_score = greatest(de_score, en_score, es_score, fr_score, zh_score) THEN 'es'
                WHEN fr_score = greatest(de_score, en_score, es_score, fr_score, zh_score) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM scored
    """,
    "text",
)
def docs_lang_id(spark, sf_dir):
    """Heuristic language ID (stopword-hit argmax, alphabetical tiebreak)."""
    return text.lang_id(_t(spark, sf_dir, "documents"))


@q(
    "docs_fingerprint",
    r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+2], ' ')) AS h
      FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
    )
    SELECT doc_id, min(h) AS fp_min, CAST(count(*) AS BIGINT) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
    "text",
)
def docs_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (min shingle hash + shingle
    count) — the winnowing-style blocking key."""
    return text.fingerprint(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# North-star: deduplication over `documents`
# ---------------------------------------------------------------------------


@q(
    "docs_exact_dedup",
    """
    SELECT md5(text) AS content_hash,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    "dedup",
)
def docs_exact_dedup(spark, sf_dir):
    """Exact content dedup: hash-groupBy, canonical = min doc_id."""
    return dedup_fuzzy.exact_dedup(_t(spark, sf_dir, "documents"))


@q(
    "docs_repetition_stats",
    r"""
    WITH t AS (
      SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    ), cnt AS (
      SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_frac,
           round(1.0 - count(*)::DOUBLE / sum(c), 6) AS dup_bigram_frac
    FROM cnt GROUP BY doc_id
    """,
    "text",
)
def docs_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per document: total/distinct
    bigram counts, the most frequent bigram's share, and the duplicate-
    bigram fraction — the standard 'remove repetitive documents' curation
    rules. Two map-side-combined aggregations ((doc, bigram) then doc);
    no windows, no Python. Docs with < 2 tokens emit no row (no bigrams)
    on both engines.

    Bigram construction is arrays_zip over two shifted slices — pure
    codegen'd array ops. The transform(idx, element_at...) higher-order
    form computes the same thing but is interpreted per element (measured
    17x slower at sf0.1): keep lambdas off hot explode paths."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n1 = F.size(toks) - 1
    pairs = F.when(
        n1 >= 1, F.arrays_zip(F.slice(toks, 1, n1), F.slice(toks, 2, n1))
    ).otherwise(F.array().cast("array<struct<`0`:string,`1`:string>>"))
    bg = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("bigram"),
        )
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return bg.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias(
            "top_bigram_frac"
        ),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)).cast("double") / F.sum("c"), 6
        ).alias("dup_bigram_frac"),
    )


@q(
    "docs_token_entropy",
    r"""
    WITH t AS (
      SELECT doc_id, unnest(str_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ), cnt AS (
      SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
    FROM cnt GROUP BY doc_id
    """,
    "text",
)
def docs_token_entropy(spark, sf_dir):
    """Shannon entropy of the per-document token distribution (a cheap
    perplexity proxy for quality filtering: near-zero = degenerate
    repetition, high = diverse text). Single-pass identity
    H = log2(n) - sum(c*log2(c))/n over the (doc, token) counts — one
    map-side-combined shuffle, no second pass for n. The float term sum
    is order-sensitive only at the 1e-14 scale (terms are O(c*log2 c)),
    six decimal places below the round-6 output grid."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    cnt = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return cnt.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 6
        ).alias("entropy"),
    )


@q(
    "docs_exact_dedup_best",
    """
    WITH t AS (
      SELECT md5(text) AS content_hash, doc_id,
             CAST(n_chars AS DOUBLE) AS p
      FROM documents
    ), agg AS (
      SELECT content_hash, max(p) AS canonical_priority,
             count(*) AS n_copies
      FROM t GROUP BY content_hash
    )
    SELECT a.content_hash,
           CAST(min(t.doc_id) AS BIGINT) AS canonical_doc_id,
           a.canonical_priority, a.n_copies
    FROM agg a
    JOIN t ON t.content_hash = a.content_hash AND t.p = a.canonical_priority
    GROUP BY a.content_hash, a.canonical_priority, a.n_copies
    """,
    "dedup",
)
def docs_exact_dedup_best(spark, sf_dir):
    """Exact dedup keeping the BEST duplicate (highest n_chars here; any
    quality score in production), lowest doc_id on ties — the keep-best
    policy training pipelines want, in the same one-shuffle shape as
    first-seen dedup."""
    out = dedup_fuzzy.exact_dedup_by_priority(
        _t(spark, sf_dir, "documents"), priority="n_chars"
    )
    return out.select(
        "content_hash", "canonical_doc_id", "canonical_priority", "n_copies"
    )


@q(
    "docs_ngram_jaccard",
    r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter, sa.n AS n_a, sb.n AS n_b,
           round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.12
    """,
    "dedup",
)
def docs_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (verification tier): shingle
    inverted-index self-join; integer-exact similarity."""
    return dedup_fuzzy.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.12
    )


@q(
    "docs_decontaminate",
    r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS s
      FROM words, UNNEST(generate_series(1, len(w) - 3)) AS t(i)
    ), bench AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0
    )
    SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM sh JOIN bench USING (s)
    WHERE sh.doc_id % 50 <> 0
    GROUP BY 1
    """,
    "dedup",
    "text",
)
def docs_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/dedup_fuzzy.py:
    contamination_hits): flag corpus documents sharing any word 4-gram
    with a held-out benchmark set (here the deterministic doc_id%50==0
    slice stands in for an eval suite). The benchmark gram dictionary is
    broadcast, so the corpus side never shuffles — the decontamination
    pass a training pipeline runs before every corpus release."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corpus = d.where(F.col("doc_id") % 50 != 0)
    return dedup_fuzzy.contamination_hits(corpus, bench, k=4)


@q(
    "docs_eval_containment",
    r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS s
      FROM words, UNNEST(generate_series(1, len(w) - 3)) AS t(i)
    ), bench_sh AS (
      SELECT doc_id, s FROM sh WHERE doc_id % 50 = 0
    ), corpus_grams AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 50 <> 0
    ), hit AS (
      SELECT DISTINCT b.s FROM (SELECT DISTINCT s FROM bench_sh) b
      JOIN corpus_grams c ON c.s = b.s
    ), per_doc AS (
      SELECT bench_sh.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(h.s) AS BIGINT) AS n_hit
      FROM bench_sh LEFT JOIN hit h ON h.s = bench_sh.s
      GROUP BY bench_sh.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           round(CAST(COALESCE(n_hit, 0) AS DOUBLE)
                 / GREATEST(COALESCE(n_grams, 0), 1), 6) AS containment,
           (round(CAST(COALESCE(n_hit, 0) AS DOUBLE)
                  / GREATEST(COALESCE(n_grams, 0), 1), 6) >= 0.8) AS dirty
    FROM (SELECT doc_id FROM documents WHERE doc_id % 50 = 0) d
    LEFT JOIN per_doc USING (doc_id)
    """,
    "dedup",
    "text",
)
def docs_eval_containment(spark, sf_dir):
    """Eval-side contamination measurement (operators/dedup_fuzzy.py:
    eval_containment): per-benchmark-document fraction of distinct word
    4-grams present anywhere in the training corpus, plus the
    clean/dirty verdict at 0.8 — the GPT-3/PaLM reporting protocol,
    complementing docs_decontaminate's corpus-side flagging. The
    benchmark dictionary broadcasts into the corpus shingle stream as a
    left-semi join, so the corpus is one filtered scan that never
    shuffles and everything downstream is benchmark-sized. Full
    oracle."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corpus = d.where(F.col("doc_id") % 50 != 0)
    return dedup_fuzzy.eval_containment(corpus, bench, k=4)


@q(
    "docs_dup_spans",
    r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), g AS (
      SELECT doc_id, array_to_string(w[i:i+7], ' ') AS s
      FROM words, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
    ), dup AS (
      SELECT s FROM g GROUP BY s HAVING count(DISTINCT doc_id) >= 2
    ), per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM g GROUP BY 1
    ), hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
      FROM g JOIN dup USING (s) GROUP BY 1
    )
    SELECT p.doc_id, p.n_spans,
           coalesce(h.n_dup_spans, 0) AS n_dup_spans,
           round(coalesce(h.n_dup_spans, 0) / CAST(p.n_spans AS DOUBLE), 6)
             AS dup_frac
    FROM per_doc p LEFT JOIN hits h USING (doc_id)
    """,
    "dedup",
    "text",
)
def docs_dup_spans(spark, sf_dir):
    """Duplicate-passage detection (operators/dedup_fuzzy.py:
    dup_span_stats): per-document fraction of word 8-gram occurrences that
    also appear in another document — the exact substring-dedup signal
    (boilerplate, templates, licenses) that document-level near-dedup
    can't see. Gram-level distinct-doc counts are one map-side-combined
    shuffle; integer-exact arithmetic end-to-end, so the oracle agrees
    bit-for-bit."""
    return dedup_fuzzy.dup_span_stats(
        _t(spark, sf_dir, "documents"), k=8
    )


@q(
    "docs_remove_dup_spans",
    r"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), tok AS (
      SELECT doc_id, i, w[i] AS t
      FROM words, UNNEST(generate_series(1, len(w))) AS u(i)
    ), g AS (
      SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS s
      FROM words, UNNEST(generate_series(1, len(w) - 7)) AS u(i)
    ), dup AS (
      SELECT s FROM g GROUP BY s HAVING count(DISTINCT doc_id) >= 2
    ), covered AS (
      SELECT DISTINCT g.doc_id, g.i + o.o AS i
      FROM g JOIN dup USING (s), UNNEST(generate_series(0, 7)) AS o(o)
    ), kept AS (
      SELECT tok.doc_id, tok.i, tok.t
      FROM tok LEFT JOIN covered c ON tok.doc_id = c.doc_id AND tok.i = c.i
      WHERE c.i IS NULL
    ), rebuilt AS (
      SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY 1
    )
    SELECT w.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(len(w.w) AS BIGINT) AS n_tokens,
           CAST(len(w.w) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM words w LEFT JOIN rebuilt r USING (doc_id)
    """,
    "dedup",
    "text",
)
def docs_remove_dup_spans(spark, sf_dir):
    """Duplicate-passage removal (operators/dedup_fuzzy.py:
    remove_dup_spans): strip from every document the word 8-gram spans
    that occur in >= 2 distinct documents and re-join the surviving
    tokens in order — the exact-substring corpus dedup a training
    pipeline runs on boilerplate/templated text. String-exact end to
    end (integer positions, deterministic re-join), so the oracle
    agrees byte-for-byte on clean_text."""
    return dedup_fuzzy.remove_dup_spans(
        _t(spark, sf_dir, "documents"), k=8, min_docs=2
    )


@q(
    "docs_remove_dup_paragraphs",
    r"""
    WITH d2 AS (
      SELECT doc_id,
             text || chr(10) || 'subscribe to the ' || lang
                  || ' newsletter today'
                  || chr(10) || 'visit example dot com' AS text
      FROM documents
    ), sp AS (
      SELECT doc_id, string_split_regex(text, chr(10)) AS parts FROM d2
    ), pp AS (
      SELECT doc_id, i - 1 AS pos, parts[i] AS para
      FROM sp, UNNEST(generate_series(1, len(parts))) AS t(i)
    ), fd AS (
      SELECT DISTINCT md5(trim(para)) AS key, doc_id
      FROM pp WHERE trim(para) <> ''
    ), f AS (
      SELECT key FROM fd GROUP BY key HAVING count(*) >= 3
    ), kept AS (
      SELECT doc_id, pos, para FROM pp
      WHERE md5(trim(para)) NOT IN (SELECT key FROM f)
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(para, chr(10) ORDER BY pos) AS clean_text,
             CAST(count(*) AS BIGINT) AS kept_n
      FROM kept GROUP BY doc_id
    )
    SELECT d2.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(len(sp.parts) AS BIGINT) AS n_paras,
           CAST(len(sp.parts) - COALESCE(r.kept_n, 0) AS BIGINT)
             AS n_removed
    FROM d2 JOIN sp USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
    """,
    "dedup",
)
def docs_remove_dup_paragraphs(spark, sf_dir):
    """Exact paragraph-level dedup (operators/dedup_fuzzy.py:
    remove_dup_paragraphs, the Dolma-style unit-boundary complement to
    span removal) on a derived multi-paragraph frame: each document
    gains a per-language newsletter line (repeats across that language's
    docs) and a global footer line (repeats everywhere); min_docs=3
    strips both while the document's own text survives. String-exact
    end to end — the oracle agrees byte-for-byte on clean_text. Full
    oracle."""
    d = _t(spark, sf_dir, "documents")
    docs2 = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.concat(
                F.lit("subscribe to the "),
                F.col("lang"),
                F.lit(" newsletter today"),
            ),
            F.lit("visit example dot com"),
        ).alias("text"),
    )
    return dedup_fuzzy.remove_dup_paragraphs(docs2, min_docs=3)


@q(
    "docs_dedup_clusters",
    r"""
    WITH RECURSIVE words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.12
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    """,
    "dedup",
)
def docs_dedup_clusters(spark, sf_dir):
    """Dedup-group formation: connected components over the exact-Jaccard
    near-dup pairs, canonical representative = min doc_id (first-seen-
    wins). Spark side is iterative min-label propagation
    (operators/dedup_fuzzy.py:dedup_clusters); the oracle computes the
    same components with a recursive transitive-closure CTE — integer-
    exact inputs, so the edge sets agree bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_fuzzy.ngram_jaccard_pairs(docs, threshold=0.12)
    return dedup_fuzzy.dedup_clusters(docs, pairs)


@q("docs_minhash_lsh_dedup", _pin("docs_minhash_lsh_dedup"), "dedup")
def docs_minhash_lsh_dedup(spark, sf_dir):
    """MinHash + banded LSH near-dup candidates (the 100 TB tier). The
    seeded xxhash64 permutation family is not SQL-recomputable, but the
    output is bit-stable (partition-invariance asserted by
    tools/pin_golden.py), so the oracle compares against pinned VALUES
    literals — the p4_parse_cert pattern. Recall vs the exact-jaccard
    oracle is additionally asserted in tests/test_llm_ops.py."""
    return dedup_fuzzy.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


@q("docs_minhash_keep", _pin("docs_minhash_keep"), "dedup")
def docs_minhash_keep(spark, sf_dir):
    """KEEP-LIST-shaped one-shot MinHash dedup: which documents survive
    near-dup dedup at threshold 0.9 under min-id-wins. Collapses
    signature-identical template families to their representative BEFORE
    the banded tier pairs anything (dedup_fuzzy.minhash_dedup_keep) —
    the pairs operator's output is quadratic in family size, the
    keep-list is not. Pin independently re-derived
    (tools/independent_oracle.py:docs_minhash_keep)."""
    return dedup_fuzzy.minhash_dedup_keep(
        _t(spark, sf_dir, "documents"), threshold=0.9
    )


@q("docs_incremental_dedup", _pin("docs_incremental_dedup"), "dedup")
def docs_incremental_dedup(spark, sf_dir):
    """Incremental dedup: a new batch probed against a MATERIALIZED
    MinHash/LSH index of the historical corpus
    (operators/dedup_fuzzy.py:minhash_index_build / minhash_probe_index).
    This is how a 100 TB pipeline actually runs dedup — the corpus
    signature pass is paid once, each arriving batch pays O(batch)
    signature work plus a bucket-prefix-pruned, broadcast-batch join
    against the posting lists; the index never shuffles.

    Here: corpus = documents with doc_id % 10 != 0 (index built once per
    sf_dir, fingerprint-tagged so testdata regeneration invalidates it),
    batch = doc_id % 10 == 0. Pin is independently re-derived
    (tools/independent_oracle.py); batch-vs-corpus agreement with the
    one-shot operator asserted in tests/test_llm_ops.py."""
    import os

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    # v4: hash store generalized to (kind, hash) — content + sig tiers
    idx = _artifact_path("docs_incremental_dedup", sf_dir)
    if not os.path.exists(idx + "/sigs/_SUCCESS"):
        dedup_fuzzy.minhash_index_build(corpus, idx)
        _evict_stale_tagged(idx)
    return dedup_fuzzy.minhash_probe_index(spark, idx, batch)


@q("docs_simhash_pairs", _pin("docs_simhash_pairs"), "dedup")
def docs_simhash_pairs(spark, sf_dir):
    """SimHash 64-bit signatures + hamming<=8 candidates via 16-bit-chunk
    blocking. Bit-stable seeded hash family => golden-literal oracle
    (tools/pin_golden.py); hamming correctness unit-tested besides."""
    return dedup_fuzzy.simhash_pairs(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# North-star: similarity search over `embeddings`
# ---------------------------------------------------------------------------


@q(
    "emb_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q, c WHERE query_id <> neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS BIGINT)
               AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
    "similarity",
)
def emb_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k (baseline tier): corpus scanned once,
    query side broadcast, dot products in codegen."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 8), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@q("emb_ann_lsh", _pin("emb_ann_lsh"), "similarity")
def emb_ann_lsh(spark, sf_dir):
    """Random-hyperplane LSH ANN (scale tier): bucket join + exact re-rank
    of candidates only. Approximate vs exact top-k (recall asserted in
    tests/test_llm_ops.py) but bit-stable for fixed seeds => golden-literal
    oracle (tools/pin_golden.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.lsh_ann_topk(emb, emb.where(F.col("vec_id") < 8), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@q("emb_ann_ivf", _pin("emb_ann_ivf"), "similarity")
def emb_ann_ivf(spark, sf_dir):
    """IVF-flat ANN: probe n nearest cells only. Bit-stable seeded
    centroids => golden-literal oracle (tools/pin_golden.py); recall on a
    planted-cluster corpus asserted in tests/test_llm_ops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb, emb.where(F.col("vec_id") < 8), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@q(
    "emb_quantize_error",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS x,
             list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) AS scale
      FROM embeddings
    ), quant AS (
      SELECT vec_id, x, scale,
             CASE WHEN scale > 0
                  THEN list_transform(x, v -> CAST(round(v * 127.0 / scale) AS BIGINT))
                  ELSE list_transform(x, v -> CAST(0 AS BIGINT)) END AS qv
      FROM base
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           round(list_max(list_transform(generate_series(1, array_length(x)),
                 i -> abs(qv[i] * scale / 127.0 - x[i]))), 6) AS max_abs_err
    FROM quant
    """,
    "similarity",
)
def emb_quantize_error(spark, sf_dir):
    """Symmetric int8 embedding quantization (4x storage shrink — the
    knob that matters when the embedding table dominates a 100 TB corpus)
    with per-vector reconstruction-error audit. Pure codegen expressions
    both sides; scale/q/error are order-independent (max, elementwise),
    so the DuckDB oracle is a full value oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    qdf = similarity.quantize_embeddings(emb).join(emb, "vec_id")
    err = F.array_max(
        F.zip_with(
            "qvec",
            "embedding",
            lambda qv, v: F.abs(
                qv.cast("double") * F.col("scale") / F.lit(127.0)
                - v.cast("double")
            ),
        )
    )
    return qdf.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.array_max(F.col("qvec").cast("array<bigint>")).alias("q_max"),
        F.array_min(F.col("qvec").cast("array<bigint>")).alias("q_min"),
        F.round(err, 6).alias("max_abs_err"),
    )


@q(
    "emb_quantized_topk",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS x,
             list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) AS scale
      FROM embeddings
    ), deq AS (
      SELECT vec_id,
             CASE WHEN scale > 0
                  THEN list_transform(x, v ->
                       round(v * 127.0 / scale) * scale / 127.0)
                  ELSE list_transform(x, v -> 0.0) END AS xd
      FROM base
    ), q AS (
      SELECT vec_id AS query_id, xd AS qv FROM deq WHERE vec_id < 8
    ), scored AS (
      SELECT query_id, d.vec_id AS neighbor_id,
             round(list_cosine_similarity(qv, d.xd), 6) AS cosine
      FROM q, deq d WHERE d.vec_id <> query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS BIGINT)
               AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
    "similarity",
)
def emb_quantized_topk(spark, sf_dir):
    """Exact top-k over the int8-quantized corpus (dequantize -> cosine):
    proves the 4x-compressed codes remain searchable — the storage/recall
    trade a 100 TB embedding table actually runs on. Full DuckDB oracle
    over the same dequantization arithmetic; recall vs the fp32 exact
    top-k asserted in tests/test_llm_ops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    deq = similarity.dequantize_embeddings(similarity.quantize_embeddings(emb))
    out = similarity.cosine_topk(deq, deq.where(F.col("vec_id") < 8), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@q("emb_ann_ivf_refined", _pin("emb_ann_ivf_refined"), "similarity")
def emb_ann_ivf_refined(spark, sf_dir):
    """IVF with Lloyd-refined centroids (2 iterations of the decimal-
    staged k-means step — deterministic, so pinnable): better cell
    balance than the hash-sampled seed, same probe shape. Refinement
    runs on the deterministic 1/4 hash-sample
    (pmod(xxhash64(id, 43), 4) == 0) — centroids are model parameters
    estimated from means, so a sample estimates them as well as the
    full corpus at 1/4 the per-iteration cost; this is the shape a
    100 TB corpus refines at (a ~1M-row slice, not full passes). The
    full-corpus exact tier remains at refine_sample_mod=1. Recall
    sample-vs-full compared in tests/test_llm_ops.py; pin independently
    re-derived (tools/independent_oracle.py replays the sampling rule
    and the staged-mean iterations in exact integer arithmetic)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 8),
        k=5,
        refine_iters=2,
        refine_sample_mod=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@q("emb_ann_ivf_indexed", _pin("emb_ann_ivf"), "similarity")
def emb_ann_ivf_indexed(spark, sf_dir):
    """The 100 TB serving shape of emb_ann_ivf: build the cell-partitioned
    index once (idempotent per sf_dir), probe with partition pruning
    (PartitionFilters carries the probed-cell IN-list — asserted in
    tests/test_llm_ops.py). Bit-identical to the inline path by
    construction, so it shares emb_ann_ivf's independently re-derived
    pin."""
    import os

    emb = _t(spark, sf_dir, "embeddings")
    # _cache_tag fingerprints embeddings.parquet so an in-place testdata
    # regeneration invalidates the index instead of silently serving
    # neighbors from stale embeddings. ("v2": index files persist the
    # per-vector norm column.)
    idx = f"/tmp/ctspark_ivf_idx_{_cache_tag(sf_dir, 'embeddings', 'v2')}"
    if not os.path.exists(idx + "/_centroids/_SUCCESS"):
        similarity.ivf_build_index(emb, idx)
        _evict_stale_tagged(idx)
    out = similarity.ivf_topk_indexed(
        spark, idx, emb.where(F.col("vec_id") < 8), k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# North-star: multimodal column plumbing (stubbed codecs, real plumbing)
# ---------------------------------------------------------------------------


@q("mm_extract_features", _pin("mm_extract_features"), "multimodal")
def mm_extract_features(spark, sf_dir):
    """Binary media -> feature vectors via Arrow-batched mapInPandas;
    decode failures (empty AND corrupt payloads) isolated per row. The
    image tier is a REAL dependency-free BMP decode
    (operators/multimodal.py:bmp_decoder) over genuine BMP fixture bytes
    => golden-literal oracle (tools/pin_golden.py). The checksum is
    decimal-staged: per-row fixed-order array fold, round, DECIMAL sum —
    associative, so partial-aggregation order can't flip bits."""
    media = multimodal.synthetic_media(spark, n=200)
    feats = multimodal.extract_features(media)
    row_sum = F.round(
        F.aggregate("features", F.lit(0.0), lambda a, v: a + v), 6
    ).cast("decimal(18,6)")
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum(row_sum).cast("double").alias("feat_checksum"),
    )


@q("mm_sample_frames", _pin("mm_sample_frames"), "multimodal")
def mm_sample_frames(spark, sf_dir):
    """Video frame sampling: 1 binary row in -> N frame rows out through
    the batch-iterator contract. Integer-only aggregate over seeded
    payload sizes => golden-literal oracle (tools/pin_golden.py)."""
    media = multimodal.synthetic_media(spark, n=200)
    frames = multimodal.sample_frames(media)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_bytes").alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# Wave 3: remaining §2 inventory — outer joins, cube/pivot, quantiles,
# sorts, incremental scan, ingest-filter goldens, PEM projection
# ---------------------------------------------------------------------------


@q(
    "s2_incremental_scan",
    """
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id > 9900
    """,
    "scan",
)
def s2_incremental_scan(spark, sf_dir):
    """S2 (ct-fetch.go:288-305): resume-from-cursor = high-watermark
    predicate on the monotone entry id; pushed to the parquet scan."""
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") > 9900)
        .select("event_id", "user_id", "event_type")
    )


@q(
    "p1p5_ingest_filter",
    """
    SELECT name FROM (VALUES
        ('ok',            false, true,  TIMESTAMP '2030-01-01 00:00:00', 'Lets Encrypt R3', 2),
        ('ca_dropped',    true,  true,  TIMESTAMP '2030-01-01 00:00:00', 'Lets Encrypt R3', 2),
        ('ca_bc_invalid', true,  false, TIMESTAMP '2030-01-01 00:00:00', 'Lets Encrypt R3', 2),
        ('expired',       false, true,  TIMESTAMP '2020-01-01 00:00:00', 'Lets Encrypt R3', 2),
        ('wrong_cn',      false, true,  TIMESTAMP '2030-01-01 00:00:00', 'Other CA',        2),
        ('no_chain',      false, true,  TIMESTAMP '2030-01-01 00:00:00', 'Lets Encrypt R3', 0)
      ) AS t(name, is_ca, basic_constraints_valid, not_after, issuer_cn, chain_len)
    WHERE NOT (basic_constraints_valid AND is_ca)
      AND not_after >= TIMESTAMP '2024-01-02 00:00:00'
      AND (issuer_cn LIKE 'Lets Encrypt%' OR issuer_cn LIKE 'ISRG%')
      AND chain_len >= 1
    """,
    "projection",
)
def p1p5_ingest_filter(spark, sf_dir):
    """P1-P5 (ct-fetch.go:44-70): the combined ingest filter on a golden
    truth table — CA drop, expiry, CN prefix keep-set, chain guard.
    ('ca_bc_invalid' passes: P1 drops only *valid* CA constraints.)"""
    import datetime as dt

    from ct_mapreduce_spark.plans.ingest import ingest_filter

    rows = [
        ("ok", False, True, dt.datetime(2030, 1, 1), "Lets Encrypt R3", 2),
        ("ca_dropped", True, True, dt.datetime(2030, 1, 1), "Lets Encrypt R3", 2),
        ("ca_bc_invalid", True, False, dt.datetime(2030, 1, 1), "Lets Encrypt R3", 2),
        ("expired", False, True, dt.datetime(2020, 1, 1), "Lets Encrypt R3", 2),
        ("wrong_cn", False, True, dt.datetime(2030, 1, 1), "Other CA", 2),
        ("no_chain", False, True, dt.datetime(2030, 1, 1), "Lets Encrypt R3", 0),
    ]
    df = spark.createDataFrame(
        rows,
        "name string, is_ca boolean, basic_constraints_valid boolean, "
        "not_after timestamp, issuer_cn string, chain_len int",
    )
    return df.where(
        ingest_filter(
            now=dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc),
            cn_prefixes=["Lets Encrypt", "ISRG"],
        )
    ).select("name")


@q(
    "p9_pem_encode",
    """
    SELECT name, pem FROM (VALUES
      ('short', '-----BEGIN CERTIFICATE-----' || chr(10) || 'AQID' || chr(10)
                || '-----END CERTIFICATE-----' || chr(10)),
      ('wrapped', '-----BEGIN CERTIFICATE-----' || chr(10)
                || repeat('QUFB', 16) || chr(10) || repeat('QUFB', 4) || chr(10)
                || '-----END CERTIFICATE-----' || chr(10))
    ) AS t(name, pem)
    """,
    "projection",
)
def p9_pem_encode(spark, sf_dir):
    """P9 (filesystemdatabase.go:167-175): PEM block projection, 64-char
    body wrap, golden strings. 'wrapped' input is 60 'A' bytes -> base64
    'AAAA'x20 split 64/16."""
    rows = [("short", bytes([1, 2, 3])), ("wrapped", b"A" * 60)]
    df = spark.createDataFrame(rows, "name string, der binary")
    from ct_mapreduce_spark.functions.codecs import pem_encode

    return df.select("name", pem_encode("der").alias("pem"))


@q(
    "j5_left_outer",
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey AND n_nationkey < 10
    """,
    "join",
)
def j5_left_outer(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return sup.join(
        F.broadcast(nat),
        (sup.s_nationkey == nat.n_nationkey) & (nat.n_nationkey < 10),
        "left",
    ).select("s_suppkey", "s_name", "n_name")


@q(
    "j6_full_outer",
    """
    SELECT n_nationkey, n_name, r_regionkey, r_name
    FROM nation FULL OUTER JOIN region
      ON n_regionkey = r_regionkey AND r_regionkey < 3
    """,
    "join",
)
def j6_full_outer(spark, sf_dir):
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return nat.join(
        reg,
        (nat.n_regionkey == reg.r_regionkey) & (reg.r_regionkey < 3),
        "full_outer",
    ).select("n_nationkey", "n_name", "r_regionkey", "r_name")


@q(
    "a5_set_membership",
    """
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
    "agg",
)
def a5_set_membership(spark, sf_dir):
    """A5 (rediscache.go:74-78 SISMEMBER): membership probe = semi join
    against the set's table form."""
    o = _t(spark, sf_dir, "orders")
    rich = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    return o.join(
        F.broadcast(rich), o.o_custkey == rich.c_custkey, "left_semi"
    ).select("o_orderkey", "o_orderstatus")


@q(
    "a6_pivot",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
    "agg",
)
def a6_pivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double"))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
    )


@q(
    "a7_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_prio
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "agg",
)
def a7_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_prio"),
    )


@q(
    "a8_quantiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           CAST(min(l_quantity) AS DOUBLE) AS min_qty,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    "agg",
)
def a8_quantiles(spark, sf_dir):
    """Exact continuous quantiles (both engines: linear interpolation).
    approx_percentile is the 100 TB variant (not oracle-comparable)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
    )


@q(
    "o1_sort_multi",
    """
    SELECT p_partkey, p_brand, p_size FROM part
    ORDER BY p_brand, p_size DESC, p_partkey LIMIT 50
    """,
    "order",
)
def o1_sort_multi(spark, sf_dir):
    """O1: multi-key sort (types.go:257-271 sort.Interface analog)."""
    return (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_size")
        .orderBy("p_brand", F.desc("p_size"), "p_partkey")
        .limit(50)
    )


@q(
    "d4_distinct_idempotent",
    """
    SELECT user_id, event_type FROM (
      SELECT user_id, event_type FROM events
      UNION ALL
      SELECT user_id, event_type FROM events
    ) t GROUP BY user_id, event_type
    """,
    "dedup",
)
def d4_distinct_idempotent(spark, sf_dir):
    """D4 (knowncertificates.go:65-96): sources may repeat (Redis SSCAN
    duplicates) — reading layer stays idempotent via distinct over a
    doubled input."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return ev.unionByName(ev).distinct()


@q(
    "docs_exact_within_reps",
    """
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
    )
    SELECT a.doc_id AS doc_id
    FROM u a
    WHERE EXISTS (
      SELECT 1 FROM u b
      WHERE md5(b.text) = md5(a.text) AND b.doc_id < a.doc_id
    )
    """,
    "dedup",
)
def docs_exact_within_reps(spark, sf_dir):
    """Within-batch exact tier (operators/dedup_fuzzy.py:
    exact_within_drops — r7): the doc_ids a copy-heavy batch DROPS,
    keeping one min-id representative per content_hash. Input doubles
    the documents table under shifted ids so every text has at least
    one verbatim copy; md5 is identical in Spark and DuckDB, so the
    full oracle hash-compares the exact drop list the incremental-dedup
    core (dedup_fuzzy.incremental_dedup_keep) relies on to keep
    copy-heavy batches off the quadratic banded path."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    u = d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    sigs = dedup_fuzzy.minhash_signatures(u)
    return dedup_fuzzy.exact_within_drops(sigs)


@q(
    "d6_bloom_prefilter_join",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    )
    GROUP BY l_returnflag
    """,
    "dedup",
    "join",
)
def d6_bloom_prefilter_join(spark, sf_dir):
    """Set membership at scan speed (operators/bloom.py): the reference's
    SISMEMBER primitive (rediscache.go:74-78) restated as a bloom-
    prefiltered exact semi-join — known keys build a broadcast-literal
    bloom (k seeded xxhash64 probes into a bit_or-aggregated word array),
    probe rows failing the filter die scan-locally, survivors go through
    the exact semi-join. Same answer as the plain semi-join (the oracle
    computes exactly that); the physical win is that at 100 TB the probe
    side ships only the matching sliver into the shuffle."""
    from ct_mapreduce_spark.operators.bloom import bloom_prefilter_semi_join

    li = _t(spark, sf_dir, "lineitem")
    known = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    kept = bloom_prefilter_semi_join(li, known, "l_orderkey")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


@q(
    "scalar_nulls",
    """
    SELECT s_suppkey,
           coalesce(n_name, 'UNKNOWN') AS nation_or_unknown,
           (n_name IS NULL) AS was_null,
           nullif(s_nationkey, 0) AS nationkey_nz,
           CASE WHEN s_acctbal < 0 THEN 'neg'
                WHEN s_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_band
    FROM supplier LEFT JOIN nation
      ON s_nationkey = n_nationkey AND n_nationkey % 2 = 0
    """,
    "scalar",
)
def scalar_nulls(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    j = sup.join(
        F.broadcast(nat),
        (sup.s_nationkey == nat.n_nationkey) & (nat.n_nationkey % 2 == 0),
        "left",
    )
    return j.select(
        "s_suppkey",
        F.coalesce("n_name", F.lit("UNKNOWN")).alias("nation_or_unknown"),
        F.col("n_name").isNull().alias("was_null"),
        F.nullif("s_nationkey", F.lit(0)).alias("nationkey_nz"),
        F.when(F.col("s_acctbal") < 0, "neg")
        .when(F.col("s_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
    )


# ---------------------------------------------------------------------------
# Wave 4: as-of / range joins and approximate tiers
# ---------------------------------------------------------------------------


@q(
    "j7_asof_join",
    """
    SELECT a.event_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           a.user_id,
           CAST(floor(epoch(a.ts) - epoch(b.ts)) AS BIGINT) AS secs_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
      ON a.user_id = b.user_id AND a.ts >= b.ts
    """,
    "join",
)
def j7_asof_join(spark, sf_dir):
    """As-of join (engine extension; DuckDB oracle uses its native ASOF
    JOIN): each purchase matched to the user's most recent prior click.
    Spark composition: tagged union + last_value(ignorenulls) window —
    one shuffle, no range explosion (operators/joins.py)."""
    from ct_mapreduce_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        right_cols=["ts"],
    )
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "user_id",
        F.floor(
            (F.unix_micros("ts") - F.unix_micros("asof_ts")) / F.lit(1e6)
        ).cast("long").alias("secs_since_click"),
    )


@q(
    "j7b_asof_forward",
    """
    SELECT a.event_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           a.user_id,
           CAST(floor(epoch(b.ts) - epoch(a.ts)) AS BIGINT) AS secs_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND a.ts <= b.ts
    """,
    "join",
)
def j7b_asof_forward(spark, sf_dir):
    """Forward as-of (direction='forward'): each click matched to the
    user's NEXT purchase at-or-after it — the other half of the
    merge_asof surface, same one-shuffle composition scanned in reverse
    time order. DuckDB's ASOF with `<=` is the native equivalent."""
    from ct_mapreduce_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    out = asof_join(
        clicks, purchases, on="user_id", left_time="ts", right_time="ts",
        right_cols=["ts"], direction="forward",
    )
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "user_id",
        F.floor(
            (F.unix_micros("asof_ts") - F.unix_micros("ts")) / F.lit(1e6)
        ).cast("long").alias("secs_to_purchase"),
    )


@q(
    "j8_range_join",
    """
    SELECT band, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem LEFT JOIN (VALUES
        (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'), (25.0, 100.0, 'high')
      ) AS r(lo, hi, band)
      ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band
    """,
    "join",
)
def j8_range_join(spark, sf_dir):
    """Range/band join (engine extension): fact value -> interval dim,
    broadcast non-equi join."""
    from ct_mapreduce_spark.operators.joins import range_join

    li = _t(spark, sf_dir, "lineitem")
    ranges = local_frame(
        spark,
        [(0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 100.0, "high")],
        "lo double, hi double, band string",
    )
    return (
        range_join(li, ranges, "l_quantity")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
        )
    )


@q("a9_approx_distinct", None, "agg")
def a9_approx_distinct(spark, sf_dir):
    """The 100 TB tier of A1/A2: HLL sketches instead of exact distinct
    sets (fixed-size shuffle payload). Approximate by construction =>
    rows-only check; exactness is covered by a1/a3."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.approx_count_distinct(F.concat_ws("|", "user_id", "event_id")).alias(
            "approx_pairs"
        ),
    )


@q(
    "a10_salted_distinct",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
    "agg",
)
def a10_salted_distinct(spark, sf_dir):
    """Skew-resistant two-phase distinct count (operators/skew.py): same
    answer as a plain count_distinct — the oracle proves exactness — but
    the hot key fans out over salt buckets at scale."""
    from ct_mapreduce_spark.operators.skew import salted_count_distinct

    ev = _t(spark, sf_dir, "events")
    out = salted_count_distinct(ev, ["event_type"], "user_id", buckets=16)
    return out.select("event_type", F.col("n_distinct").cast("long").alias("n_distinct"))


# ---------------------------------------------------------------------------
# Wave 5: TPC-H query-shape breadth + window-function family
# ---------------------------------------------------------------------------


@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    "tpch",
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS correlated subquery -> left-semi join."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@q(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "tpch",
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: highly-selective scan + single aggregate, expressed
    through the spark.sql API (temp view) to exercise the SQL surface —
    Catalyst produces the same plan as the DataFrame form."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
               count(*) AS n
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@q(
    "q12_shipmode_priority",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    "tpch",
)
def q12_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape: conditional-sum pivot over a join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@q(
    "q14_promo_effect",
    """
    SELECT CAST(100.00 * sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2))
                         * (1 - CAST(l_discount AS DECIMAL(6,4)))
                    ELSE CAST(0 AS DECIMAL(20,6)) END)
           / sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
      AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    "tpch",
)
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: conditional revenue ratio; part dim broadcast.
    The final division is one double op over exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    px = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    rev = px * (F.lit(1) - disc)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(20,6)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * F.sum(promo) / F.sum(rev))
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@q(
    "q18_large_orders",
    """
    SELECT c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150
    )
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
    "tpch",
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING subquery -> aggregated semi join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("q"))
        .where(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "c_name",
            F.col("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"))
    )


@q(
    "q19_disjunctive_filter",
    """
    SELECT count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
       OR (p_type = 'ECONOMY' AND l_quantity >= 20)
    """,
    "tpch",
)
def q19_disjunctive_filter(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs predicate across both join sides."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11) & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20) & (F.col("p_size") <= 10))
        | ((F.col("p_type") == "ECONOMY") & (F.col("l_quantity") >= 20))
    )
    return j.where(cond).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double").alias("sum_price"),
    )


@q(
    "w4_window_family",
    """
    SELECT event_id, user_id,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER wv AS BIGINT) AS rnk,
           CAST(dense_rank() OVER wv AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           lag(event_id, 1) OVER w AS prev_event,
           lead(event_id, 1) OVER w AS next_event,
           first_value(event_id) OVER w AS first_event,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_user_events
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id),
           wv AS (PARTITION BY user_id ORDER BY event_type, event_id)
    """,
    "window",
)
def w4_window_family(spark, sf_dir):
    """The full window-function family on deterministic integer orderings
    (rank ties broken by event_id)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("event_id")
    wv = W.partitionBy("user_id").orderBy("event_type", "event_id")
    wall = W.partitionBy("user_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(wv).cast("long").alias("rnk"),
        F.dense_rank().over(wv).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("event_id", 1).over(w).alias("prev_event"),
        F.lead("event_id", 1).over(w).alias("next_event"),
        F.first("event_id").over(w).alias("first_event"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_user_events"),
    )


# ---------------------------------------------------------------------------
# Wave 6: Structured-Streaming queries under the batch oracle — the
# streaming results are arrival-order independent, so the DuckDB batch
# equivalent hash-matches (T1-T4 through the driver's correctness gate).
# ---------------------------------------------------------------------------


def _stream_src(spark, sf_dir: str) -> str:
    """Materialize events as a multi-file replay source (idempotent)."""
    import os

    # _cache_tag fingerprints events.parquet so an in-place testdata
    # regeneration rebuilds the replay dir. ("v2": written from the
    # NTZ-normalized frame, sources/tables.py.)
    path = f"/tmp/ctspark_stream_src_{_cache_tag(sf_dir, 'events', 'v2')}"
    if not os.path.exists(path + "/_SUCCESS"):
        _t(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(path)
        _evict_stale_tagged(path)
    return path


def _run_stream(spark, df, name: str, mode: str = "complete"):
    import tempfile

    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ck_{name}_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


@q(
    "t3_stream_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "streaming",
)
def t3_stream_dedup_keys(spark, sf_dir):
    """T3 (knowncertificates.go:36-55 streaming form): stateful streaming
    dropDuplicates over a file-replay source. Key set is arrival-order
    independent, so the batch DISTINCT oracle hash-matches.

    The watermark bounds dedup state (dropDuplicates without one keeps
    every key forever — the production footgun flagged in the round-1
    review); the delay exceeds the replay's time span so no key evicts
    or drops mid-run and the oracle equality holds. Production tunes the
    delay to the real dedup horizon (see streaming_ingest /
    streaming/stateful.py for the data-time-TTL form)."""
    src = _stream_src(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    deduped = (
        stream.select("user_id", "event_type", "ts")
        .withWatermark("ts", "3650 days")
        .dropDuplicates(["user_id", "event_type"])
        .drop("ts")
    )
    import tempfile

    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t3_dedup_keys")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_t3_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("t3_dedup_keys")


@q(
    "t4d_stream_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "streaming",
)
def t4d_stream_tumbling(spark, sf_dir):
    """T4 streaming form: the tumbling-window aggregate actually executed
    as a Structured Streaming query (complete mode); counts/sums are
    arrival-order independent -> batch oracle applies."""
    from ct_mapreduce_spark.streaming.ingest_stream import streaming_event_windows

    src = _stream_src(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    return _run_stream(spark, streaming_event_windows(stream), "t4d_tumbling")


@q("s14_warc_scan", _pin("s14_warc_scan"), "scan")
def s14_warc_scan(spark, sf_dir):
    """WARC corpus ingestion (sources/text_source.py:read_warc): parse a
    deterministic two-archive fixture (one plain, one gzipped) with the
    dependency-free WARC/1.0 record walker and project the curation-side
    columns. Pin is derived from the RECORDS THE GENERATOR EMITTED, not
    from the parser — green means the encode->parse round trip is
    faithful on both compression paths (the media-codec pattern). The
    fixture is content-addressed per n, so it never goes stale; sf_dir
    is unused (the source is its own data)."""
    import os

    from ct_mapreduce_spark.sources.text_source import (
        read_warc,
        synthetic_warc_fixture,
    )

    fixture = "/tmp/ctspark_warc_fixture_n64_v1"
    if not os.path.exists(fixture + "/seg-001.warc.gz"):
        synthetic_warc_fixture(fixture, n=64)
    df = read_warc(spark, fixture)
    return df.select(
        "warc_type",
        "url",
        "record_id",
        "content_type",
        "length",
        F.md5("body").alias("body_md5"),
    )


@q("s15_warc_html_pipeline", _pin("s15_warc_html_pipeline"), "scan")
def s15_warc_html_pipeline(spark, sf_dir):
    """The Common Crawl front half end-to-end: WARC responses -> HTTP
    header strip -> HTML-to-text rule battery -> token count + text
    fingerprint (operators/text.py:strip_http_headers / html_to_text).
    All codegen expressions after the parse — zero Python in the
    extraction. Pin re-derived by a pure-python replay of the SAME
    template + rule sequence (tools/independent_oracle.py), proving the
    extraction pipeline, not just the parser."""
    import os

    from ct_mapreduce_spark.operators.text import (
        html_to_text,
        strip_http_headers,
        tokens,
    )
    from ct_mapreduce_spark.sources.text_source import (
        read_warc,
        synthetic_warc_html_fixture,
    )

    fixture = "/tmp/ctspark_warc_html_fixture_n32_v1"
    if not os.path.exists(fixture + "/seg-001.warc.gz"):
        synthetic_warc_html_fixture(fixture, n=32)
    df = read_warc(spark, fixture).where(F.col("warc_type") == "response")
    txt = html_to_text(strip_http_headers(F.col("body")))
    return df.select(
        "url",
        F.md5(txt).alias("text_md5"),
        F.size(tokens(txt)).alias("n_tokens"),
        F.length(txt).alias("n_chars"),
    )


@q("s16_warc_domain_stats", _pin("s16_warc_domain_stats"), "scan")
def s16_warc_domain_stats(spark, sf_dir):
    """Per-domain crawl rollup (operators/web.py:domain_stats): parse a
    multi-domain WARC fixture, extract each response's registered domain
    (parse_url host -> vendored public-suffix-list lookup, r10) and aggregate pages /
    distinct URLs / token / char totals — the over-crawl bookkeeping
    table a blocklist pipeline is built on. ONE map-side-combined
    groupBy(domain); the exchange carries one row per domain. Pin is
    derived from the record DEFINITIONS (tools/independent_oracle.py),
    proving the encode->parse->rollup composition."""
    import os

    from ct_mapreduce_spark.operators.web import domain_stats
    from ct_mapreduce_spark.sources.text_source import (
        read_warc,
        synthetic_warc_multidomain_fixture,
    )

    fixture = "/tmp/ctspark_warc_multidom_fixture_n60_v2"
    if not os.path.exists(fixture + "/seg-001.warc.gz"):
        synthetic_warc_multidomain_fixture(fixture, n=60)
    df = read_warc(spark, fixture).where(F.col("warc_type") == "response")
    return domain_stats(df.select("url", F.col("body").alias("text")))


@q("s17_warc_domain_quality", _pin("s17_warc_domain_quality"), "scan")
def s17_warc_domain_quality(spark, sf_dir):
    """Domain-level quality triage (operators/web.py:domain_quality —
    the RefinedWeb move): per registered domain, mean composite quality,
    low-quality page fraction, and the keep verdict that feeds
    filter_domains as a LEARNED blocklist. Page scores are pre-rounded
    to 6 decimals so the per-domain sum stages through exact
    DECIMAL(16,6) (partial-agg order cannot move the mean); ONE
    map-side-combined groupBy(domain). Pin derived from the fixture's
    record definitions plus a pure-python replica of the declared
    quality formula (tools/independent_oracle.py)."""
    import os

    from ct_mapreduce_spark.operators.web import domain_quality
    from ct_mapreduce_spark.sources.text_source import (
        read_warc,
        synthetic_warc_multidomain_fixture,
    )

    fixture = "/tmp/ctspark_warc_multidom_fixture_n60_v2"
    if not os.path.exists(fixture + "/seg-001.warc.gz"):
        synthetic_warc_multidomain_fixture(fixture, n=60)
    df = read_warc(spark, fixture).where(F.col("warc_type") == "response")
    return domain_quality(df.select("url", F.col("body").alias("text")))


_URL_RECRAWL_VALUES = """(VALUES
      (1, 'https://a.example/page',     TIMESTAMP '2024-01-01 00:00:00'),
      (2, 'https://a.example/page#top', TIMESTAMP '2024-01-02 00:00:00'),
      (3, 'https://a.example/page/',    TIMESTAMP '2024-01-01 12:00:00'),
      (4, 'https://a.example/',         TIMESTAMP '2024-01-01 00:00:00'),
      (5, 'https://b.example/x?q=1',    TIMESTAMP '2024-01-03 00:00:00'),
      (6, 'https://b.example/x?q=1',    TIMESTAMP '2024-01-03 00:00:00'),
      (7, 'https://b.example/x?q=2',    TIMESTAMP '2024-01-01 00:00:00')
    ) AS t(doc_id, url, fetch_ts)"""


@q(
    "s18_url_recrawl_dedup",
    rf"""
    WITH c AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(url, '#.*$', ''),
                            '(://[^/]+/.*[^/])/$', '\1') AS canon_url,
             fetch_ts
      FROM {_URL_RECRAWL_VALUES}
    ), r AS (
      SELECT canon_url, doc_id, fetch_ts,
             row_number() OVER (PARTITION BY canon_url
                                ORDER BY fetch_ts DESC, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT)
               AS n_captures,
             max(fetch_ts) OVER (PARTITION BY canon_url) AS latest
      FROM c
    )
    SELECT canon_url, CAST(doc_id AS BIGINT) AS kept_doc_id, n_captures,
           strftime(latest, '%Y-%m-%d %H:%M:%S') AS latest_ts
    FROM r WHERE rn = 1
    """,
    "dedup",
)
def s18_url_recrawl_dedup(spark, sf_dir):
    """Recrawl dedup (operators/web.py:url_dedup — the RefinedWeb URL
    pass): one document per canonical URL, newest capture wins, ties to
    the lowest id. Canonicalization strips fragments and non-root
    trailing slashes with RE2-subset regexes (capture group, no
    lookbehind) so the oracle replays them. The operator is one
    map-side-combined groupBy carrying a max(struct) — never a window
    over the capture stream (the oracle USES a window because VALUES
    fixtures are tiny; the engine plan must scale). Inline-literal
    fixture, full oracle (the p4_parse_cert precedent)."""
    import datetime as dtm

    from ct_mapreduce_spark.operators.web import url_dedup

    rows = [
        (1, "https://a.example/page", dtm.datetime(2024, 1, 1, 0, 0, 0)),
        (2, "https://a.example/page#top", dtm.datetime(2024, 1, 2, 0, 0, 0)),
        (3, "https://a.example/page/", dtm.datetime(2024, 1, 1, 12, 0, 0)),
        (4, "https://a.example/", dtm.datetime(2024, 1, 1, 0, 0, 0)),
        (5, "https://b.example/x?q=1", dtm.datetime(2024, 1, 3, 0, 0, 0)),
        (6, "https://b.example/x?q=1", dtm.datetime(2024, 1, 3, 0, 0, 0)),
        (7, "https://b.example/x?q=2", dtm.datetime(2024, 1, 1, 0, 0, 0)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, fetch_ts timestamp"
    )
    return url_dedup(df)


@q("s1_ctlog_scan", _pin("s1_ctlog_scan"), "scan")
def s1_ctlog_scan(spark, sf_dir):
    """S1 (downloadCTRangeToChannel, ct-fetch.go:398-488): ranged scan
    through the custom 'ctlog' Python data source — 1000-entry fetch
    partitions, offset/limit bounds — aggregated per issuer. The synthetic
    transport is seed-deterministic => golden-literal oracle
    (tools/pin_golden.py); the ranged/resume/growth protocol is
    pytest-asserted (tests/test_ctlog_source.py)."""
    from ct_mapreduce_spark.sources.ctlog_source import CTLogDataSource

    spark.dataSource.register(CTLogDataSource)
    df = (
        spark.read.format("ctlog")
        .option("tree_size", 5000)
        .option("offset", 500)
        .load()
    )
    return (
        df.groupBy("issuer_id")
        .agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.min("entry_id").alias("first_entry"),
            F.max("entry_id").alias("last_entry"),
        )
        .orderBy("issuer_id")
    )


@q(
    "dq_star_schema",
    """
    SELECT 'orders_pk_unique' AS check,
           CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE) AS metric,
           count(*) - count(DISTINCT o_orderkey) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'lineitem_pk_unique',
           CAST(count(*) - count(DISTINCT l_orderkey * 10 + l_linenumber)
                AS DOUBLE),
           count(*) - count(DISTINCT l_orderkey * 10 + l_linenumber) = 0
    FROM lineitem
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS DOUBLE),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS DOUBLE),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) = 0
    UNION ALL
    SELECT 'orders_custkey_nulls',
           round(CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / greatest(count(*), 1), 6),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / greatest(count(*), 1) <= 0.0
    FROM orders
    UNION ALL
    SELECT 'discount_in_range',
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                    THEN 1 ELSE 0 END) AS DOUBLE),
           sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
               THEN 1 ELSE 0 END) = 0
    FROM lineitem
    """,
    "quality",
)
def dq_star_schema(spark, sf_dir):
    """Data-quality suite over the star schema (operators/checks.py):
    key uniqueness, referential integrity (anti-join counts), null
    ratios, domain ranges — each check one aggregate pass, the suite one
    unioned report. The gate a pipeline runs before trusting a load."""
    from ct_mapreduce_spark.operators import checks as C

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    li_pk = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pk")
    )
    return C.run_suite(
        [
            C.check_unique(o, ["o_orderkey"], "orders_pk_unique"),
            C.check_unique(li_pk, ["pk"], "lineitem_pk_unique"),
            C.check_no_orphans(o, "o_custkey", c, "c_custkey", "orders_custkey_fk"),
            C.check_no_orphans(
                li, "l_orderkey", o, "o_orderkey", "lineitem_orderkey_fk"
            ),
            C.check_null_ratio(o, "o_custkey", 0.0, "orders_custkey_nulls"),
            C.check_range(li, "l_discount", 0.0, 0.1, "discount_in_range"),
        ]
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_sql() -> str:
    blocks = []
    for c in _PROFILE_COLS:
        blocks.append(
            f"""
    SELECT '{c}' AS col_name,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           round(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                 / greatest(count(*), 1), 6) AS null_frac,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_str,
           CAST(max({c}) AS VARCHAR) AS max_str
    FROM t"""
        )
    return (
        """
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
    )
    """
        + "\n    UNION ALL\n".join(blocks)
    )


@q("dq_profile", _profile_sql(), "quality")
def dq_profile(spark, sf_dir):
    """Table profiling (operators/checks.py:profile_table): per-column
    null counts/fraction, exact distinct counts, min/max — the first
    look a pipeline takes at an unfamiliar drop. One aggregate job (the
    multi-distinct agg plans as a single expand + shuffle). o_totalprice
    is pre-cast to DECIMAL(18,2) so min/max strings render identically
    in both engines (raw DOUBLE->VARCHAR diverges at scientific-notation
    thresholds). At 100 TB the exact_distinct=False tier (HLL, rows-only
    by nature) replaces the expand."""
    from ct_mapreduce_spark.operators.checks import profile_table

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    return profile_table(o, _PROFILE_COLS)


@q(
    "ev_funnel",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS step_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM firsts
    """,
    "analytics",
)
def ev_funnel(spark, sf_dir):
    """Ordered conversion funnel (view -> click -> purchase): per-user
    first-occurrence times via one conditional-min aggregation, then
    ordering predicates — no self-joins, one shuffle on user_id. NULL
    comparisons are three-valued on both engines, so strict > encodes
    'later step happened after the earlier one'."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(viewed, 1).otherwise(0)).alias("step_view"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("step_click"),
        F.sum(F.when(purchased, 1).otherwise(0)).alias("step_purchase"),
    )


@q(
    "ev_retention",
    """
    WITH cohort AS (
      SELECT user_id,
             strftime(date_trunc('week', min(ts)), '%Y-%m-%d') AS cohort_week,
             date_trunc('week', min(ts)) AS cw
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
    )
    SELECT cohort_week,
           CAST(floor((epoch(aw) - epoch(cw)) / (7 * 86400)) AS BIGINT)
             AS week_n,
           count(*) AS active_users
    FROM cohort JOIN activity USING (user_id)
    GROUP BY 1, 2, cw
    """,
    "analytics",
)
def ev_retention(spark, sf_dir):
    """Cohort retention: users bucketed by first-activity week, counted
    in each later week they return. Two aggregations + one join keyed on
    user_id (AQE reuses the clustering); the week arithmetic stays in
    integer seconds so both engines bucket identically."""
    ev = _t(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("aw")
    ).distinct()
    return (
        cohort.join(activity, "user_id")
        .groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                (F.col("aw").cast("long") - F.col("cw").cast("long"))
                / (7 * 86400)
            ).alias("week_n"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@q(
    "ev_rate_anomaly",
    """
    WITH counts AS (
      SELECT event_type AS key, date_trunc('hour', ts) AS bt,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT key, bt, n,
             CAST(SUM(n) OVER w AS BIGINT) AS s1,
             CAST(SUM(n * n) OVER w AS BIGINT) AS s2,
             CAST(COUNT(n) OVER w AS BIGINT) AS c
      FROM counts
      WINDOW w AS (PARTITION BY key ORDER BY bt
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ), z AS (
      SELECT key, bt, n,
             CASE WHEN c >= 12
                  THEN round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / c)
                       / sqrt(greatest(
                           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                            * CAST(s1 AS DOUBLE) / c) / (c - 1), 1.0)), 6)
                  ELSE 0.0 END AS z_score
      FROM scored
    )
    SELECT key, strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts, n, z_score,
           (abs(z_score) >= 3.0) AS is_anomaly
    FROM z
    """,
    "analytics",
)
def ev_rate_anomaly(spark, sf_dir):
    """Event-rate anomaly detection (operators/statistics.py:
    rate_anomaly): per-type hourly counts z-scored against a trailing
    24-bucket rolling baseline, cold-start buckets (<12 observations)
    never anomalous. The rolling frame aggregates exact BIGINT moments
    and the z expression is one fixed double tree over them — built-in
    stddev would not hash-match (Welford merge order). One map-side-
    combined groupBy collapses the corpus; the window runs on the
    |keys| x |hours| model-sized frame. Full oracle."""
    from ct_mapreduce_spark.operators.statistics import rate_anomaly

    return rate_anomaly(_t(spark, sf_dir, "events"))


@q(
    "t6_stream_stream_join",
    """
    SELECT v.user_id,
           v.event_id AS view_event,
           p.event_id AS purchase_event,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    "streaming",
)
def t6_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (view -> purchase attribution within
    1 hour), executed as a real Structured Streaming query with
    watermarked state on both sides. The replay watermark exceeds the
    table's span so no pair is dropped mid-replay and the emitted set
    equals the batch conditional join (the oracle); bounded-state
    eviction under a tight watermark is the production configuration
    (streaming_interval_join's default)."""
    from ct_mapreduce_spark.streaming.ingest_stream import (
        streaming_interval_join,
    )

    src = _stream_src(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")

    def side(etype):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .where(F.col("event_type") == etype)
            .select("user_id", "event_id", "ts")
        )

    joined = streaming_interval_join(
        side("view"), side("purchase"), watermark="3650 days"
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_event"),
        F.col("r.event_id").alias("purchase_event"),
        F.date_format("l.ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("r.ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    return _run_stream(spark, joined, "t6_ss_join", mode="append")


@q(
    "t5_stateful_ttl_dedup",
    """
    SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           user_id, event_type
    FROM events
    """,
    "streaming",
)
def t5_stateful_ttl_dedup(spark, sf_dir):
    """D2/T3 custom-stateful form (applyInPandasWithState): first-seen
    dedup whose state TTL is the data-derived BUCKET EXPIRY — the
    reference's EXPIREAT contract (knowncertificates.go:98-104) — rather
    than dropDuplicatesWithinWatermark's delay-after-last-arrival. The
    watermark delay exceeds the table's time span, so no key is evicted
    or dropped mid-replay and the emitted set equals the batch DISTINCT
    (arrival-order independent -> the DuckDB oracle hash-matches);
    eviction/re-admission behavior is asserted separately in
    tests/test_streaming.py::test_ttl_first_seen_evicts_at_bucket_expiry.
    """
    from ct_mapreduce_spark.streaming.stateful import (
        day_bucket_expiry,
        ttl_first_seen,
    )

    src = _stream_src(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    prepared = stream.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
        "event_type",
        "ts",
    )
    out = ttl_first_seen(
        prepared,
        keys=["day", "user_id"],
        member_col="event_type",
        expiry_fn=day_bucket_expiry,
        watermark_col="ts",
        watermark_delay="3650 days",
    )
    return _run_stream(spark, out, "t5_ttl_dedup", mode="append")


@q(
    "emb_cosine_near_dup",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < 300)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.25
    """,
    "dedup",
)
def emb_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (the semantic-dedup tier):
    all pairs above a cosine threshold within a bounded corpus slice. At
    scale the pair generation runs per LSH/IVF bucket, not as a cross
    join — this query is the exactness witness for that path."""
    from ct_mapreduce_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    scored = pairs.withColumn("cosine", cosine(F.col("ea"), F.col("eb")))
    return (
        scored.where(F.col("cosine") >= 0.25)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Wave 7: the rest of the TPC-H query family, adapted to the driver schema
# (no partsupp table — the part<->supplier relation derives from lineitem;
# no receipt/commit dates, phone, or comment columns — filters use the
# columns that exist, keeping each query's *plan shape* intact: correlated
# subqueries, scalar-subquery thresholds, exists/not-exists, anti-joins,
# outer-join distributions).
# ---------------------------------------------------------------------------


@q(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY 1, 2
    ), eu AS (
      SELECT c.l_partkey, c.l_suppkey, c.cost, s_name, s_acctbal, n_name
      FROM costs c
      JOIN supplier ON s_suppkey = c.l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT p_partkey, p_name, s_name, n_name, s_acctbal,
           round(cost, 6) AS cost
    FROM eu JOIN part ON p_partkey = eu.l_partkey
    WHERE p_size <= 5
      AND cost = (SELECT min(e2.cost) FROM eu e2
                  WHERE e2.l_partkey = eu.l_partkey)
    """,
    "tpch",
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated MIN subquery over a 4-way dim join.
    partsupp is derived from lineitem (cost = min unit price observed).
    The correlated min decorrelates to a per-part window over only the
    region-filtered, part-filtered rows — filter first, then min."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    # Pre-filter BEFORE the aggregate: per-(part, supp) min depends only on
    # that pair's own rows, so restricting to EU suppliers and small parts
    # first is semantics-preserving and shrinks the groupBy shuffle ~10x —
    # Catalyst won't push a join below an aggregation on its own.
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(sup.select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    )
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    eu = costs.join(F.broadcast(sup), costs.l_suppkey == sup.s_suppkey)
    w = W.partitionBy("l_partkey")
    return (
        eu.join(F.broadcast(p), eu.l_partkey == p.p_partkey)
        .withColumn("_min_cost", F.min("cost").over(w))
        .where(F.col("cost") == F.col("_min_cost"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            "s_acctbal",
            F.round("cost", 6).alias("cost"),
        )
    )


@q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(6,4))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY 1, 2, 3
    """,
    "tpch",
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two roles of the same dim (supplier nation vs
    customer nation), disjunctive nation-pair filter, yearly rollup."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair_ok)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


@q(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                    ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(6,4))) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    "tpch",
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of regional revenue per year —
    conditional-sum ratio over a 6-way star join; exact decimal sums, one
    double division at the end."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )
    share = F.when(F.col("nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(20,6)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(share).cast("double") / F.sum(vol).cast("double")).alias(
                "mkt_share"
            )
        )
    )


@q(
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(6,4)))
             - CAST(p_retailprice AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2)) AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY 1, 2
    """,
    "tpch",
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit per nation-year; supply cost proxied by
    p_retailprice * quantity (no partsupp in schema). LIKE filter pushes
    into the part scan; dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    amount = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    ) - F.col("p_retailprice").cast("decimal(12,2)") * F.col("l_quantity").cast(
        "decimal(12,2)"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name, c_acctbal,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "tpch",
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter; deterministic tiebreak (c_custkey) so LIMIT is stable."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@q(
    "q11_important_parts",
    """
    WITH pv AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_0'
      GROUP BY 1
    )
    SELECT l_partkey, CAST(value AS DOUBLE) AS value
    FROM pv
    WHERE CAST(value AS DOUBLE) >
          (SELECT CAST(sum(value) AS DOUBLE) * 0.001 FROM pv)
    """,
    "tpch",
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: per-part value filtered by a scalar-subquery
    threshold (0.1% of the grand total). The scalar aggregate becomes a
    1-row broadcast cross join — no driver-side collect."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_0")
    pv = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("_value"))
    )
    thr = pv.agg(
        (F.sum("_value").cast("double") * F.lit(0.001)).alias("_thr")
    )
    return (
        pv.join(F.broadcast(thr))
        .where(F.col("_value").cast("double") > F.col("_thr"))
        .select("l_partkey", F.col("_value").cast("double").alias("value"))
    )


@q(
    "q13_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders ON c_custkey = o_custkey
           AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    "tpch",
)
def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: outer join with a join-side filter, then a
    distribution-of-counts double aggregation (customers with zero
    surviving orders must appear — hence outer, not inner)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "tpch",
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: view + scalar MAX subquery; equality is on exact
    decimals, so the argmax set is engine-independent."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@q(
    "q16_part_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    "tpch",
)
def q16_part_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute with a
    NOT-IN exclusion (suppliers in deficit), expressed as an anti-join —
    the part<->supplier relation derives from lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@q(
    "q17_small_qty_revenue",
    """
    WITH pq AS (
      SELECT l_partkey AS pq_partkey,
             0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                    / count(*)) AS qty_thr
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           count(*) AS n
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq ON pq_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < qty_thr
    """,
    "tpch",
)
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated AVG subquery (l_quantity below 20% of
    the part's average) decorrelated to a grouped aggregate + join — the
    exact plan Catalyst produces for the correlated form. Quantities are
    integral doubles, so sum-as-decimal / count is the exact average."""
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    li = _t(spark, sf_dir, "lineitem")
    # The per-part average is only consumed for Brand#1 parts: semi-join
    # the fact table down BEFORE the grouped aggregate (the decorrelated
    # subquery would otherwise shuffle every part's rows).
    li_b1 = li.join(
        F.broadcast(p.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    pq = li_b1.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_thr")
    )
    return (
        li_b1.join(F.broadcast(p), li_b1.l_partkey == p.p_partkey)
        .join(pq, F.col("l_partkey") == F.col("pq_partkey"))
        .where(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@q(
    "q20_excess_parts",
    """
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_4'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%blue%'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 30
      )
    ORDER BY s_name
    """,
    "tpch",
)
def q20_excess_parts(spark, sf_dir):
    """TPC-H Q20 shape: nested IN subqueries -> semi-join chain (suppliers
    who moved >30 units of a matching part in the year)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%blue%"))
    movers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("q"))
        .where(F.col("q") > 30)
        .select("l_suppkey")
    )
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_4")
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@q(
    "q21_waiting_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_5'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
    "tpch",
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact table ->
    left-semi then left-anti self-joins. Without receipt/commit dates the
    'kept everyone waiting' supplier is the strictly-latest shipper in a
    multi-supplier finalized order."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    s = _t(spark, sf_dir, "supplier")
    l1 = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .alias("l1")
    )
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.select("l_orderkey", "l_suppkey", "l_shipdate").alias("l3")
    with_other = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    latest = with_other.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti",
    )
    return (
        latest.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@q(
    "q22_idle_customers",
    """
    WITH pos AS (
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer
      WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY', 'HOUSEHOLD')
        AND c_acctbal > 0
    ), thr AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             / count(*) AS avg_bal
      FROM pos
    )
    SELECT c_mktsegment, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM pos, thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY c_mktsegment
    """,
    "tpch",
)
def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average account balance (scalar AVG
    subquery over the positive-balance population, decimal-exact) with a
    NOT-EXISTS anti-join (no orders since 1999)."""
    pos = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY", "HOUSEHOLD")
        & (F.col("c_acctbal") > 0)
    )
    thr = pos.agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    )
    return (
        pos.join(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, pos.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@q(
    "o4_limit_offset",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25 OFFSET 50
    """,
    "order",
)
def o4_limit_offset(spark, sf_dir):
    """O2 result-side form: pagination over a deterministic total order
    (tiebreak on the key). Spark's offset() composes with the sorted
    limit into one TakeOrderedAndProject-style plan."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(50)
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    )


@q(
    "a13_grouping_sets",
    """
    SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort,
           count(*) AS n,
           CAST(GROUPING(event_type) AS BIGINT) AS g_type,
           CAST(GROUPING(CAST(user_id % 10 AS BIGINT)) AS BIGINT) AS g_cohort
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(user_id % 10 AS BIGINT)),
                            (event_type, CAST(user_id % 10 AS BIGINT)))
    """,
    "agg",
)
def a13_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS (the general form of a3's ROLLUP / a7's
    CUBE): three explicit aggregation levels in one pass, via the SQL
    surface (same plan as the DataFrame groupingSets form)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort,
               count(*) AS n,
               CAST(GROUPING(event_type) AS BIGINT) AS g_type,
               CAST(GROUPING(CAST(user_id % 10 AS BIGINT)) AS BIGINT)
                 AS g_cohort
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (CAST(user_id % 10 AS BIGINT)),
                                (event_type, CAST(user_id % 10 AS BIGINT)))
        """
    )


@q(
    "w5_range_frame",
    """
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(25,4))) OVER (
             PARTITION BY user_id ORDER BY event_id
             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS windowed_sum,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY event_id
             RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING
           ) AS BIGINT) AS n_near
    FROM events
    WHERE user_id < 30
    """,
    "window",
)
def w5_range_frame(spark, sf_dir):
    """RANGE window frames (value-based bounds, vs w3's ROWS frame):
    sliding sums over an event_id neighborhood. Decimal-staged so the
    frame sums are order-exact."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 30)
    w1 = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rangeBetween(-100, W.currentRow)
    )
    w2 = W.partitionBy("user_id").orderBy("event_id").rangeBetween(-100, 100)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(25,4)"))
        .over(w1)
        .cast("double")
        .alias("windowed_sum"),
        F.count(F.lit(1)).over(w2).cast("long").alias("n_near"),
    )


@q(
    "a12_hll_rollup",
    """
    SELECT event_type, count(DISTINCT user_id) AS est_distinct
    FROM events GROUP BY event_type
    """,
    "agg",
)
def a12_hll_rollup(spark, sf_dir):
    """Mergeable-sketch rollup (operators/sketches.py): per-(event_type,
    day) HLL leaf sketches unioned register-wise up to event_type — the
    sketch-algebra form of storage-statistics' leaf-to-issuer sums
    (storage-statistics.go:44-53), correct even for overlapping sets and
    never rescanning raw data. Oracle is EXACT distinct: at sf0.01
    cardinalities (~150 users) the Datasketches HLL is still in exact
    (coupon) mode, so the estimate equals the true count; mergeability
    and the estimate-tolerance at higher cardinality are pytest-asserted
    (tests/test_llm_ops.py::test_hll_*)."""
    from ct_mapreduce_spark.operators.sketches import (
        hll_group_sketches,
        hll_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    leaf = hll_group_sketches(
        ev.select("event_type", day, "user_id"), ["event_type", "day"], "user_id"
    )
    return hll_rollup(leaf, ["event_type"]).select("event_type", "est_distinct")


@q(
    "a14_cms_heavy_hitters",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ), exact AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_exact
      FROM toks GROUP BY token ORDER BY n_exact DESC, token LIMIT 25
    ), ii AS (
      SELECT unnest(generate_series(0, 3)) AS i
    ), cells AS (
      SELECT i, CAST(('0x' || substr(md5(token || '#'
               || CAST(i AS VARCHAR) || '#42'), 1, 8)) AS BIGINT) % 256
               AS col
      FROM toks CROSS JOIN ii
    ), cms AS (
      SELECT i, col, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY i, col
    ), est AS (
      SELECT e.token, CAST(min(COALESCE(c.n, 0)) AS BIGINT) AS n_cms
      FROM exact e CROSS JOIN ii
      LEFT JOIN cms c ON c.i = ii.i AND c.col =
        CAST(('0x' || substr(md5(e.token || '#'
             || CAST(ii.i AS VARCHAR) || '#42'), 1, 8)) AS BIGINT) % 256
      GROUP BY e.token
    )
    SELECT e.token, e.n_exact, est.n_cms
    FROM exact e JOIN est USING (token)
    """,
    "agg",
)
def a14_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch point estimates (operators/sketches.py:
    cms_build/cms_estimate — Cormode & Muthukrishnan 2005), the
    frequency sibling of the HLL tier: the token stream collapses to a
    (4 x 256) cell table in ONE map-side-combined groupBy (model-sized
    shuffle, mergeable cell-wise like hll_rollup), and the exact top-25
    tokens probe it via a broadcast lookup. md5-based cell hashing by
    design — DuckDB recomputes it, so this sketch gets a FULL oracle
    where the xxhash64 families need pins. CMS never undercounts;
    the overestimate bound is pytest-asserted."""
    from ct_mapreduce_spark.operators.sketches import cms_build, cms_estimate

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.array_remove(F.split(F.trim("text"), r"\s+"), "")).alias(
            "token"
        )
    ).localCheckpoint()  # two consumers: the exact counts and the sketch
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "token")
        .limit(25)
    )
    cms = cms_build(toks, "token")
    est = cms_estimate(cms, exact.select("token"), "token")
    return exact.join(est, "token").select("token", "n_exact", "n_cms")


@q(
    "scalar_glob",
    """
    SELECT doc_id, source, lang
    FROM documents
    WHERE source LIKE 'src1%'
       OR regexp_matches(source, '^src[0-9]$')
    """,
    "scalar",
)
def scalar_glob(spark, sf_dir):
    """Glob/pattern matching (SURVEY §2.7, mockcache.go:157 KeysToChan
    SCAN pattern analog): LIKE prefix glob + anchored regex, both pushed
    into the scan as a single OR predicate."""
    d = _t(spark, sf_dir, "documents")
    return d.where(
        F.col("source").like("src1%") | F.col("source").rlike("^src[0-9]$")
    ).select("doc_id", "source", "lang")


def _quality_sql() -> str:
    from ct_mapreduce_spark.operators.text import STOPWORDS

    sw = sorted({w for ws in STOPWORDS.values() for w in ws})
    sw_sql = "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in sw) + "]"
    return rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
             length(text) AS lc,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS np
      FROM documents
    ), m AS (
      SELECT doc_id,
             greatest(len(w), 1) AS n_tok,
             len(w) AS n_tok0,
             len(list_filter(w, x -> list_contains({sw_sql}, x))) AS n_stop,
             len(list_distinct(w)) AS n_dis,
             CAST(np AS DOUBLE) / greatest(lc, 1) AS punct_ratio
      FROM t
    )
    SELECT doc_id,
           round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stopword_ratio,
           round((least(1.0, CAST(n_tok0 AS DOUBLE) / 50.0)
                + least(1.0, (CAST(n_stop AS DOUBLE) / n_tok) * 4.0)
                + CAST(n_dis AS DOUBLE) / n_tok
                + (1.0 - least(1.0, punct_ratio * 10.0))) / 4.0, 6) AS quality
    FROM m
    """


def _curriculum_sql() -> str:
    return f"""
    WITH qres AS ({_quality_sql()}),
    banded AS (
      SELECT doc_id, quality,
             CAST(least(4, CAST(floor(quality * 4) AS BIGINT) + 1) AS BIGINT)
               AS band
      FROM qres
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(quality), 6) AS min_q,
           round(max(quality), 6) AS max_q,
           round(CAST(sum(CAST(quality AS DECIMAL(12,6))) AS DOUBLE)
                 / count(*), 6) AS avg_q
    FROM banded GROUP BY band
    """


@q("docs_curriculum_bands", _curriculum_sql(), "text")
def docs_curriculum_bands(spark, sf_dir):
    """Curriculum binning by FIXED quality bands (4 equal [0,1] slices)
    with per-band stats — the ordering stage of curriculum training.
    Fixed thresholds rather than ntile quartiles deliberately: an exact
    global ntile is a single-task sort of the corpus (the no-parallelism
    shape the plan audit flags), while banding is a narrow projection +
    one map-side-combined aggregate at any scale; quantile-ish splits at
    100 TB come from approx_percentile over these same scores. The mean
    uses the round-6-exact decimal staging so float order can't flip
    bits."""
    q = text.quality_score(_t(spark, sf_dir, "documents"))
    band = F.least(
        F.lit(4), F.floor(F.col("quality") * 4).cast("long") + 1
    ).cast("long")
    return (
        q.select(band.alias("band"), "quality")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("quality"), 6).alias("min_q"),
            F.round(F.max("quality"), 6).alias("max_q"),
            F.round(
                F.sum(F.col("quality").cast("decimal(12,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_q"),
        )
    )


@q("docs_quality", _quality_sql(), "text")
def docs_quality(spark, sf_dir):
    """Composite quality score (operators/text.py:quality_score): the
    heuristic keep/drop stage of a training-data pipeline. Fixed-order
    double arithmetic -> bit-identical across engines, full oracle."""
    return text.quality_score(_t(spark, sf_dir, "documents"))


@q(
    "docs_adaptive_quality",
    rf"""
    WITH qres AS ({_quality_sql()}),
    ql AS (
      SELECT q.doc_id, d.lang, q.quality
      FROM qres q JOIN documents d USING (doc_id)
    ), cuts AS (
      SELECT lang, quantile_cont(quality, 0.5) AS cut FROM ql GROUP BY lang
    )
    SELECT ql.doc_id, ql.lang, ql.quality, round(cuts.cut, 6) AS cut
    FROM ql JOIN cuts USING (lang)
    WHERE ql.quality >= cuts.cut
    """,
    "text",
)
def docs_adaptive_quality(spark, sf_dir):
    """Per-language adaptive quality gate (operators/text.py:
    adaptive_quality_filter): keep each language's top half by composite
    quality score — the corpus-relative threshold that self-calibrates
    across languages instead of over-pruning the ones with thinner
    stopword tables. Exact-percentile tier here (bit-matches DuckDB's
    quantile_cont, the lm_terciles precedent); the default
    approx-sketch tier is the bounded-memory 100 TB path, agreement-
    tested in pytest. The cuts table is strata-sized and broadcast —
    no window, no global sort. Full oracle."""
    return text.adaptive_quality_filter(
        _t(spark, sf_dir, "documents"), keep_frac=0.5, exact=True
    )


def _gopher_sql() -> str:
    from ct_mapreduce_spark.operators.text import GOPHER_REQUIRED_STOPWORDS

    stop_hits = " + ".join(
        f"CAST(list_contains(wl, '{w}') AS INT)"
        for w in GOPHER_REQUIRED_STOPWORDS
    )
    return rf"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS wf,
             string_split(text, chr(10)) AS lines
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(wf) AS BIGINT) AS n_words,
             greatest(CAST(len(wf) AS BIGINT), 1) AS nw1,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
               AS n_word_chars,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               AS n_hash,
             CAST((length(text) - length(replace(text, '...', ''))) / 3
                  + (length(text) - length(replace(text, '…', '')))
                  AS BIGINT) AS n_ell,
             CAST(len(list_filter(wf, x -> regexp_matches(x, '[A-Za-z]')))
                  AS BIGINT) AS n_alpha,
             list_transform(wf, x -> lower(x)) AS wl,
             greatest(CAST(len(lines) AS BIGINT), 1) AS n_lines,
             CAST(len(list_filter(lines,
                    l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT)
               AS n_bullet,
             CAST(len(list_filter(lines,
                    l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT)
               AS n_ell_line
      FROM t
    ), r AS (
      SELECT doc_id, n_words,
             round(CAST(n_word_chars AS DOUBLE) / nw1, 6) AS mean_word_len,
             round(CAST(n_hash + n_ell AS DOUBLE) / nw1, 6) AS symbol_ratio,
             round(CAST(n_alpha AS DOUBLE) / nw1, 6) AS alpha_frac,
             CAST({stop_hits} AS BIGINT) AS n_req_stopwords,
             round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS bullet_frac,
             round(CAST(n_ell_line AS DOUBLE) / n_lines, 6) AS ellipsis_frac
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
           n_req_stopwords, bullet_frac, ellipsis_frac,
           (n_words >= 50 AND n_words <= 100000) AS words_ok,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS mean_len_ok,
           (symbol_ratio <= 0.1) AS symbol_ok,
           (bullet_frac < 0.9) AS bullet_ok,
           (ellipsis_frac < 0.3) AS ellipsis_ok,
           (alpha_frac > 0.8) AS alpha_ok,
           (n_req_stopwords >= 2) AS stop_ok,
           ((n_words >= 50 AND n_words <= 100000)
            AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
            AND (symbol_ratio <= 0.1) AND (bullet_frac < 0.9)
            AND (ellipsis_frac < 0.3) AND (alpha_frac > 0.8)
            AND (n_req_stopwords >= 2)) AS gopher_pass
    FROM r
    """


@q("docs_gopher_rules", _gopher_sql(), "text")
def docs_gopher_rules(spark, sf_dir):
    """Published-heuristic quality rules (operators/text.py:
    gopher_quality): the Gopher battery (Rae et al. 2021, table A1)
    as pure codegen expressions — word-count bounds, mean word length,
    symbol-to-word ratio, bullet/ellipsis line fractions, alpha-word
    fraction, required-stopword presence, and the combined pass flag.
    One BIGINT/BIGINT division per ratio rounded once to 6 places, so
    the DuckDB oracle matches bit-for-bit. Full oracle."""
    return text.gopher_quality(_t(spark, sf_dir, "documents"))


# --- Unigram LM perplexity filter (operators/lm.py, CCNet-style) -----
# Shared oracle fragments: reference = the lang='en' slice (the selection
# module's target-distribution device), min_count=2 so the hapax tail
# folds into the OOV mass. Determinism: per-token log-probabilities are
# rounded ONCE to integer micro-nats inside the model table; document
# totals are exact integer sums and the per-token mean is an exact
# integral division — the DSIR discipline.

_LM_CTES = r"""toksr AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents WHERE lang = 'en'
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n FROM toksr GROUP BY token
    ), tot AS (
      SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS t_all,
             CAST(COUNT(CASE WHEN n >= 2 THEN 1 END) AS BIGINT) AS v,
             CAST(COALESCE(SUM(CASE WHEN n < 2 THEN n END), 0) AS BIGINT)
               AS d
      FROM counts
    ), lm AS (
      SELECT token, n,
             CAST(round(ln((CAST(n AS DOUBLE) + 1.0)
                  / (CAST(t_all AS DOUBLE) + CAST(v AS DOUBLE) + 1.0))
                  * 1000000.0) AS BIGINT) AS logp_micro
      FROM counts, tot WHERE n >= 2
      UNION ALL
      SELECT '' AS token, d AS n,
             CAST(round(ln((CAST(d AS DOUBLE) + 1.0)
                  / (CAST(t_all AS DOUBLE) + CAST(v AS DOUBLE) + 1.0))
                  * 1000000.0) AS BIGINT) AS logp_micro
      FROM tot
    )"""


@q(
    "docs_lm_unigram",
    "WITH " + _LM_CTES + "\n    SELECT token, n, logp_micro FROM lm",
    "lm",
)
def docs_lm_unigram(spark, sf_dir):
    """The trained unigram quality model (operators/lm.py:
    lm_train_unigram): add-one-smoothed token log-probabilities over the
    lang='en' reference slice, min_count=2 (rarer tokens fold into the
    '' OOV row — the sublinear-vocabulary contract a 100 TB reference
    needs). One map-side-combined count shuffle; the T/V/D totals are a
    single-row aggregate cross-joined back. Full oracle."""
    from ct_mapreduce_spark.operators.lm import lm_train_unigram

    d = _t(spark, sf_dir, "documents")
    return lm_train_unigram(d.where(F.col("lang") == "en"), min_count=2)


@q(
    "docs_lm_ppl",
    "WITH " + _LM_CTES + r""", dt AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ), sc AS (
      SELECT dt.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(COALESCE(lmk.logp_micro,
                  (SELECT logp_micro FROM lm WHERE token = ''))) AS BIGINT)
               AS logp_total_micro
      FROM dt LEFT JOIN (SELECT token, logp_micro FROM lm
                         WHERE token <> '') lmk USING (token)
      GROUP BY dt.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(sc.logp_total_micro, 0) AS BIGINT)
             AS logp_total_micro,
           CAST(CASE WHEN COALESCE(sc.n_tokens, 0) > 0
                THEN (-sc.logp_total_micro) // sc.n_tokens
                ELSE 0 END AS BIGINT) AS xent_micro
    FROM documents d LEFT JOIN sc USING (doc_id)""",
    "lm",
)
def docs_lm_ppl(spark, sf_dir):
    """CCNet-style perplexity scoring (operators/lm.py:lm_score): every
    document's per-token cross-entropy in integer micro-nats under the
    lang='en' unigram model — the published quality gate (Wenzek et al.
    2020) restated Spark-first. Explode -> broadcast model join ->
    map-side-combined groupBy(doc): the shuffle carries one narrow row
    per document, and the integer-sum discipline makes the result
    bit-identical across engines. Full oracle."""
    from ct_mapreduce_spark.operators.lm import lm_score, lm_train_unigram

    d = _t(spark, sf_dir, "documents")
    model = lm_train_unigram(d.where(F.col("lang") == "en"), min_count=2)
    return lm_score(d, model)


@q(
    "docs_token_drift",
    r"""
    WITH toks AS (
      SELECT lang = 'en' AS is_a,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ), counts AS (
      SELECT token,
             CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS n_b
      FROM toks GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS t_a,
             CAST(SUM(n_b) AS BIGINT) AS t_b,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM counts
    )
    SELECT token, n_a, n_b,
           CAST(round(
             ((CAST(n_a AS DOUBLE) + 1.0)
              / (CAST(t_a AS DOUBLE) + CAST(v AS DOUBLE)))
             * ln(((CAST(n_a AS DOUBLE) + 1.0)
                   * (CAST(t_b AS DOUBLE) + CAST(v AS DOUBLE)))
                  / ((CAST(n_b AS DOUBLE) + 1.0)
                     * (CAST(t_a AS DOUBLE) + CAST(v AS DOUBLE))))
             * 1000000000.0) AS BIGINT) AS kl_nano
    FROM counts, tot
    ORDER BY kl_nano DESC, token
    LIMIT 25
    """,
    "lm",
)
def docs_token_drift(spark, sf_dir):
    """Token-distribution drift (operators/lm.py:token_drift): top-25
    per-token KL contributions between the lang='en' slice and the rest
    of the corpus — the "what changed in this drop" monitoring table.
    ONE conditional-count pass over the exploded corpus; the ranking
    input is vocabulary-sized and the contribution is rounded once to
    integer nano-units, so the oracle matches bit-for-bit. Full
    oracle."""
    from ct_mapreduce_spark.operators.lm import token_drift

    d = _t(spark, sf_dir, "documents")
    return token_drift(d, F.col("lang") == "en", top_k=25)


@q(
    "docs_lm_terciles",
    "WITH " + _LM_CTES + r""", dt AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ), sc AS (
      SELECT dt.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(COALESCE(lmk.logp_micro,
                  (SELECT logp_micro FROM lm WHERE token = ''))) AS BIGINT)
               AS logp_total_micro
      FROM dt LEFT JOIN (SELECT token, logp_micro FROM lm
                         WHERE token <> '') lmk USING (token)
      GROUP BY dt.doc_id
    ), xe AS (
      SELECT d.doc_id,
             CAST(CASE WHEN COALESCE(sc.n_tokens, 0) > 0
                  THEN (-sc.logp_total_micro) // sc.n_tokens
                  ELSE 0 END AS BIGINT) AS xent_micro
      FROM documents d LEFT JOIN sc USING (doc_id)
    ), cuts AS (
      SELECT quantile_cont(xent_micro, 1.0/3.0) AS c1,
             quantile_cont(xent_micro, 2.0/3.0) AS c2
      FROM xe
    )
    SELECT doc_id, xent_micro,
           CASE WHEN CAST(xent_micro AS DOUBLE) <= c1 THEN 'head'
                WHEN CAST(xent_micro AS DOUBLE) <= c2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM xe, cuts""",
    "lm",
)
def docs_lm_terciles(spark, sf_dir):
    """CCNet's head/middle/tail corpus split (operators/lm.py:
    lm_terciles): every document bucketed by its cross-entropy tercile
    under the lang='en' unigram model. Exact-percentile tier here (the
    one-row cuts aggregate is bit-identical to DuckDB's quantile_cont —
    the a8_quantiles precedent); the default approx_percentile tier is
    the bounded-memory 100 TB path, recall-tested in pytest. Full
    oracle."""
    from ct_mapreduce_spark.operators.lm import (
        lm_score,
        lm_terciles,
        lm_train_unigram,
    )

    d = _t(spark, sf_dir, "documents")
    model = lm_train_unigram(d.where(F.col("lang") == "en"), min_count=2)
    return lm_terciles(lm_score(d, model), exact=True)


# --- Stupid-backoff bigram LM (operators/lm.py, Brants et al. 2007) --
# Bigram CTEs over the same lang='en' reference slice, min_count=2.
# logs_micro = round(ln(n_pair / n_ctx) * 1e6) with n_ctx summed over
# ALL pairs before the min_count filter (true relative frequency, no
# renormalization over survivors — that is what makes stupid backoff
# normalization-free and therefore one-pass at 100 TB).

_BLM_CTES = r"""dr AS (
      SELECT list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents WHERE lang = 'en'
    ), pr AS (
      SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM dr
    ), pairsr AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM pr
    ), bcounts AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
      FROM pairsr GROUP BY w1, w2
    ), bctx AS (
      SELECT w1, CAST(SUM(n) AS BIGINT) AS n_ctx FROM bcounts GROUP BY w1
    ), blm AS (
      SELECT b.w1, b.w2, b.n,
             CAST(round(ln(CAST(b.n AS DOUBLE) / CAST(c.n_ctx AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS logs_micro
      FROM bcounts b JOIN bctx c USING (w1) WHERE b.n >= 2
    )"""

from ct_mapreduce_spark.operators.lm import (  # noqa: E402
    BACKOFF_ALPHA_MICRO as _ALPHA_MICRO,
)


@q(
    "docs_lm_bigram",
    "WITH " + _BLM_CTES + "\n    SELECT w1, w2, n, logs_micro FROM blm",
    "lm",
)
def docs_lm_bigram(spark, sf_dir):
    """The trained stupid-backoff bigram table (operators/lm.py:
    lm_train_bigram): relative-frequency bigram scores over the
    lang='en' reference slice, min_count=2 (rarer pairs back off to
    alpha * unigram at scoring time — the normalization-free web-scale
    scheme of Brants et al. 2007). One explode -> map-side-combined
    groupBy(w1, w2); context totals are a vocabulary-sized second
    groupBy on the checkpointed counts. Full oracle."""
    from ct_mapreduce_spark.operators.lm import lm_train_bigram

    d = _t(spark, sf_dir, "documents")
    return lm_train_bigram(d.where(F.col("lang") == "en"), min_count=2)


@q(
    "docs_lm_ppl_backoff",
    "WITH " + _LM_CTES + ", " + _BLM_CTES + rf""", da AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS tk
      FROM documents
    ), dp AS (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM da
    ), toks2 AS (
      SELECT doc_id,
             CASE WHEN i = 1 THEN NULL ELSE tk[i - 1] END AS prev,
             tk[i] AS cur
      FROM dp
    ), sc AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN t.prev IS NULL THEN
                        COALESCE(lmk.logp_micro,
                          (SELECT logp_micro FROM lm WHERE token = ''))
                      ELSE COALESCE(blm.logs_micro,
                        {_ALPHA_MICRO} + COALESCE(lmk.logp_micro,
                          (SELECT logp_micro FROM lm WHERE token = '')))
                      END) AS BIGINT) AS logp_total_micro
      FROM toks2 t
      LEFT JOIN blm ON blm.w1 = t.prev AND blm.w2 = t.cur
      LEFT JOIN (SELECT token, logp_micro FROM lm WHERE token <> '') lmk
        ON lmk.token = t.cur
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(sc.logp_total_micro, 0) AS BIGINT)
             AS logp_total_micro,
           CAST(CASE WHEN COALESCE(sc.n_tokens, 0) > 0
                THEN (-sc.logp_total_micro) // sc.n_tokens
                ELSE 0 END AS BIGINT) AS xent_micro
    FROM documents d LEFT JOIN sc USING (doc_id)""",
    "lm",
)
def docs_lm_ppl_backoff(spark, sf_dir):
    """Stupid-backoff perplexity scoring (operators/lm.py:
    lm_score_backoff): every document's per-token cross-entropy under
    the bigram-with-unigram-backoff model — the KenLM-shaped upgrade of
    the CCNet gate, restated Spark-first. ONE explode of the (prev,
    cur) pair stream, two broadcast model joins, map-side-combined
    groupBy(doc); integer micro-nat scores make the result bit-identical
    across engines. Full oracle."""
    from ct_mapreduce_spark.operators.lm import (
        lm_score_backoff,
        lm_train_joint,
    )

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("lang") == "en")
    # one-scan joint trainer (r10): bit-identical models to the separate
    # lm_train_unigram + lm_train_bigram calls, one fewer corpus pass
    uni, bi = lm_train_joint(ref, min_count=2)
    return lm_score_backoff(d, uni, bi)


@q(
    "docs_hash_split",
    """
    WITH b AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs
    FROM b GROUP BY 1
    """,
    "sampling",
)
def docs_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/sampling.py):
    membership is a pure function of md5(doc_id), so splits are stable
    across engines, retries, repartitioning, and corpus growth — unlike
    seed-based sample(). Oracle recomputes the identical buckets."""
    from ct_mapreduce_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id", {"train": 80, "val": 10, "test": 10})
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


@q(
    "docs_stratified_sample",
    """
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) t
    WHERE rk <= 20
    """,
    "sampling",
)
def docs_stratified_sample(spark, sf_dir):
    """Exactly-20-per-language deterministic sample: hash-ranked within
    stratum (operators/sampling.py:stratified_sample). The selected SET
    is data-determined, so the oracle selects the identical rows."""
    from ct_mapreduce_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(d, "lang", "doc_id", 20)


@q(
    "docs_weighted_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          / 4294967296.0
          < least(1.0, n_chars / 4000.0)
    """,
    "sampling",
)
def docs_weighted_sample(spark, sf_dir):
    """Quality-weighted deterministic downsampling
    (operators/sampling.py:weighted_sample): keep probability
    min(1, n_chars/4000) — longer documents kept at full rate, short ones
    thinned proportionally. Membership = md5-uniform(doc_id) < weight, a
    pure function of the data (no seed, no partitioning sensitivity), so
    the oracle replays the identical draw. Physically a scan-local filter:
    no shuffle, pushed at the parquet scan."""
    from ct_mapreduce_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(
        d, "doc_id", F.col("n_chars") / F.lit(4000.0)
    ).select("doc_id", "lang")


@q(
    "docs_mixture_rebalance",
    """
    WITH c AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang
    ), t AS (
      SELECT lang, n, 1.0 / (SELECT count(*) FROM c) AS ts FROM c
    ), np AS (
      SELECT min(n / ts) AS n_prime FROM t
    ), p AS (
      SELECT lang,
             least(1.0, ts * (SELECT n_prime FROM np) / n) AS keep_p
      FROM t
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN p USING (lang)
    WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          / 4294967296.0 < p.keep_p
    """,
    "sampling",
)
def docs_mixture_rebalance(spark, sf_dir):
    """Data mixing (operators/sampling.py:mixture_rebalance): downsample
    to a uniform-over-languages corpus — per-stratum keep-prob
    t*N'/n with N' = min(n/t), membership by the md5-uniform draw, so
    the kept set is a pure function of the data and the oracle replays
    it exactly. One tiny count aggregate + broadcast of per-stratum
    probabilities + a scan-local filter; the corpus never shuffles."""
    from ct_mapreduce_spark.operators.sampling import mixture_rebalance

    d = _t(spark, sf_dir, "documents")
    return mixture_rebalance(d, "lang", "doc_id").select("doc_id", "lang")


_PACK_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset
      FROM t
    )
    SELECT doc_id, n_tokens, start_offset,
           start_offset // 512 AS seq_first,
           (start_offset + n_tokens - 1) // 512 AS seq_last,
           (start_offset + n_tokens - 1) // 512
             - start_offset // 512 + 1 AS n_seqs
    FROM c
"""


@q("docs_pack_sequences", _PACK_SQL, "packing")
def docs_pack_sequences(spark, sf_dir):
    """Sequence packing (operators/packing.py:pack_sequences): each
    document's span in the concatenated fixed-seq_len training stream —
    global token offset, first/last sequence index, boundaries crossed.
    The oracle is an ordinary window cumsum; the engine computes the SAME
    pure-integer result via a two-phase distributed prefix sum (bucket
    totals -> driver prefix of n_buckets model rows -> per-bucket
    windows), because a global ORDER BY window is a single-partition plan
    at 100 TB. No reference analog; extends §2.6."""
    from ct_mapreduce_spark.operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=512, n_buckets=16
    )


@q(
    "docs_pack_shards",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset
      FROM t
    ), spans AS (
      SELECT doc_id, n_tokens,
             (start_offset // 512) // 8 AS shard,
             ((start_offset + n_tokens - 1) // 512) // 8 AS shard_last
      FROM c
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           CAST(SUM(CASE WHEN shard_last > shard THEN 1 ELSE 0 END) AS BIGINT)
             AS n_spill_docs
    FROM spans GROUP BY shard
    """,
    "packing",
)
def docs_pack_shards(spark, sf_dir):
    """Training-shard manifest (operators/packing.py:shard_manifest):
    doc/token totals, doc_id ranges, and next-shard spill counts per
    4096-token shard (8 x 512-token sequences) — what a resumable
    exporter and a stitching trainer consume. Pure integer arithmetic
    on top of the distributed prefix sum; full oracle."""
    from ct_mapreduce_spark.operators.packing import (
        pack_sequences,
        shard_manifest,
    )

    packed = pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=512, n_buckets=16
    )
    return shard_manifest(packed, seq_len=512, seqs_per_shard=8)


@q(
    "docs_packing_stats",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset
      FROM t
    ), spans AS (
      SELECT n_tokens,
             (start_offset + n_tokens - 1) // 512
               - start_offset // 512 + 1 AS n_seqs
      FROM c
    )
    SELECT count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           (CAST(SUM(n_tokens) AS BIGINT) + 511) // 512 AS n_sequences,
           CAST(SUM(CASE WHEN n_seqs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_straddlers,
           ((CAST(SUM(n_tokens) AS BIGINT) + 511) // 512) * 512
             - CAST(SUM(n_tokens) AS BIGINT) AS tail_pad_tokens
    FROM spans
    """,
    "packing",
)
def docs_packing_stats(spark, sf_dir):
    """Packing-efficiency audit (operators/packing.py:packing_stats):
    corpus totals, straddler count, tail padding. One map-side-combined
    global aggregate over the packed spans."""
    from ct_mapreduce_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )

    packed = pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=512, n_buckets=16
    )
    return packing_stats(packed, seq_len=512)


@q(
    "docs_vocab_topk",
    r"""
    SELECT tok, count(*) AS freq,
           count(DISTINCT doc_id) AS doc_freq
    FROM (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ) t
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 100
    """,
    "text",
)
def docs_vocab_topk(spark, sf_dir):
    """Vocabulary building: corpus-wide token frequencies (term + document
    frequency) with a deterministic top-k — the input to tokenizer
    training and stopword discovery. One explode + one map-side-combined
    groupBy; the ORDER BY ... LIMIT folds into TakeOrderedAndProject (no
    global sort materialization)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(text.tokens("text")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("freq"), "tok")
        .limit(100)
    )


@q(
    "docs_tfidf_topterms",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, tok
      ) AS rk
      FROM scored
    ) t
    WHERE rk <= 3
    """,
    "text",
)
def docs_tfidf_topterms(spark, sf_dir):
    """TF-IDF top-3 terms per document: term frequency x ln(N/df), the
    classic salience score. df is corpus-wide (one small aggregate,
    joined back — AQE broadcasts it); ln of identical doubles is
    bit-identical across engines, ties broken by token."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    scored = (
        tf.join(df_tbl, "tok")
        .join(F.broadcast(n))  # 1-row scalar aggregate, stays lazy
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


@q(
    "docs_pii_redact",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})', 1))
             AS n_email,
           len(regexp_extract_all(text,
               '(\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b)', 1)) AS n_ipv4,
           len(regexp_extract_all(text,
               '(\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{4,7})', 1)) AS n_phoneish,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IPV4>', 'g'),
               '\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{4,7}', '<PHONEISH>', 'g'))
             AS redacted_md5,
           length(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IPV4>', 'g'),
               '\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{4,7}', '<PHONEISH>', 'g'))
             AS redacted_len
    FROM documents
    """,
    "text",
)
def docs_pii_redact(spark, sf_dir):
    """PII detection/redaction (operators/text.py:redact_pii): counts per
    category plus an md5 witness of the redacted text. Patterns live in
    the Java-regex ∩ RE2 subset, so Spark and DuckDB produce identical
    redactions (the md5 proves it, not just the counts)."""
    return text.redact_pii(_t(spark, sf_dir, "documents"))


def _keeplist_sql() -> str:
    from ct_mapreduce_spark.operators.text import STOPWORDS

    sw = sorted({w for ws in STOPWORDS.values() for w in ws})
    sw_sql = "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in sw) + "]"
    return rf"""
    WITH RECURSIVE tq AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
             length(text) AS lc,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS np
      FROM documents
    ), qual AS (
      SELECT doc_id,
             round((least(1.0, CAST(len(w) AS DOUBLE) / 50.0)
                  + least(1.0, (CAST(len(list_filter(w, x ->
                        list_contains({sw_sql}, x))) AS DOUBLE)
                        / greatest(len(w), 1)) * 4.0)
                  + CAST(len(list_distinct(w)) AS DOUBLE) / greatest(len(w), 1)
                  + (1.0 - least(1.0,
                        (CAST(np AS DOUBLE) / greatest(lc, 1)) * 10.0)))
                  / 4.0, 6) AS quality
      FROM tq
    ), good AS (
      SELECT d.doc_id, d.text, q.quality
      FROM documents d JOIN qual q USING (doc_id)
      WHERE q.quality >= 0.6
    ), words AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM good
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.12
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM good
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), comp AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT c.doc_id, g.quality
    FROM comp c JOIN good g USING (doc_id)
    WHERE c.doc_id = c.cluster_id
    """


@q("docs_pipeline_keeplist", _keeplist_sql(), "pipeline")
def docs_pipeline_keeplist(spark, sf_dir):
    """End-to-end training-data curation pipeline in one plan: quality
    gate (keep score >= 0.6) -> exact-Jaccard near-dup pairs over the
    survivors -> connected-component clustering -> keep-list = one
    canonical doc per cluster (min doc_id), with its quality score.
    Every stage is a previously-oracle-verified operator; the composite
    is verified end-to-end against the single nested-CTE oracle."""
    docs = _t(spark, sf_dir, "documents")
    qual = text.quality_score(docs).select("doc_id", "quality")
    good = docs.join(
        qual.where(F.col("quality") >= 0.6), "doc_id"
    )
    pairs = dedup_fuzzy.ngram_jaccard_pairs(good, threshold=0.12)
    clusters = dedup_fuzzy.dedup_clusters(good, pairs)
    return (
        clusters.where(F.col("doc_id") == F.col("cluster_id"))
        .join(good.select("doc_id", "quality"), "doc_id")
        .select("doc_id", "quality")
    )


@q(
    "emb_label_centroids",
    """
    WITH ex AS (
      SELECT label, i AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS HUGEINT) AS q
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT label, pos,
           round((CAST(sum(q) AS DOUBLE) / 1e9) / count(*), 6) AS centroid_val
    FROM ex GROUP BY 1, 2
    """,
    "similarity",
)
def emb_label_centroids(spark, sf_dir):
    """Mean-pooled class prototypes (operators/similarity.py:
    label_centroids): the scale-default decimal-staged mean — each value
    floored onto a 1e-9 grid (IEEE-deterministic), staged integers summed
    associatively, so the oracle's HUGEINT sum over the same grid matches
    bit-for-bit regardless of either engine's aggregation order. The
    bit-exact canonical-order IEEE fold remains behind exact=True
    (pytest-compared against this default on the same data)."""
    from ct_mapreduce_spark.operators.similarity import label_centroids

    return label_centroids(_t(spark, sf_dir, "embeddings"))


@q(
    "emb_label_outliers",
    """
    WITH ex AS (
      SELECT label, i AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS HUGEINT) AS q
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), cent AS (
      SELECT label, pos,
             round((CAST(sum(q) AS DOUBLE) / 1e9) / count(*), 6) AS cv
      FROM ex GROUP BY 1, 2
    ), carr AS (
      SELECT label, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY label
    ), staged AS (
      SELECT e.label, e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6)
               AS sim_r,
             CAST(round(round(list_cosine_similarity(
               e.embedding::DOUBLE[], c.centroid), 6) * 1e6) AS BIGINT) AS q
      FROM embeddings e JOIN carr c USING (label)
    ), st AS (
      SELECT label, count(*) AS n,
             sum(CAST(q AS HUGEINT)) AS s,
             sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS ss
      FROM staged GROUP BY label
    )
    SELECT g.label, g.vec_id, g.sim_r,
           round((CAST(g.q AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
                 / sqrt(CAST(st.ss AS DOUBLE) / st.n
                        - (CAST(st.s AS DOUBLE) / st.n)
                          * (CAST(st.s AS DOUBLE) / st.n)), 4) AS z_r
    FROM staged g JOIN st USING (label)
    WHERE (CAST(g.q AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
          / sqrt(CAST(st.ss AS DOUBLE) / st.n
                 - (CAST(st.s AS DOUBLE) / st.n)
                   * (CAST(st.s AS DOUBLE) / st.n)) <= -2.0
    """,
    "similarity",
)
def emb_label_outliers(spark, sf_dir):
    """Per-class embedding outliers (operators/similarity.py:
    label_outliers): cosine-to-own-centroid z-scored within label, flag
    z <= -2 — the mislabeled/garbage quarantine step. Full oracle: sims
    rounded to 6 dp and staged onto an integer grid, label moments from
    DECIMAL/HUGEINT sums, every downstream double op in pinned operand
    order — both engines compute bit-identical z."""
    from ct_mapreduce_spark.operators.similarity import label_outliers

    return label_outliers(_t(spark, sf_dir, "embeddings"))


@q("emb_lsh_near_dup", _pin("emb_lsh_near_dup"), "dedup")
def emb_lsh_near_dup(spark, sf_dir):
    """Embedding near-dup pairs at scale: hyperplane-LSH blocking over the
    FULL embeddings table (the bucketed path `emb_cosine_near_dup`
    witnesses exactly on a bounded slice). Approximate-recall tier (recall
    >= 0.9 vs the exact cross-join pytest-asserted,
    test_llm_ops.py::test_lsh_near_dup_recall) but bit-stable for fixed
    seeds => golden-literal oracle (tools/pin_golden.py)."""
    from ct_mapreduce_spark.operators.similarity import lsh_near_dup_pairs

    return lsh_near_dup_pairs(_t(spark, sf_dir, "embeddings"))


@q("emb_semdedup", _pin("emb_semdedup"), "dedup")
def emb_semdedup(spark, sf_dir):
    """Semantic dedup pairs (operators/similarity.py:semdedup_pairs —
    SemDeDup shape): near-dup pairs found within seeded clusters only, so
    pair generation is bucket-local instead of corpus^2. Seeded xxhash64
    centroid pick is not SQL-recomputable => golden-literal oracle
    (tools/pin_golden.py, independently re-derived by
    tools/independent_oracle.py); in-cell cosine exactness is witnessed
    by emb_cosine_near_dup's full oracle, the keep-rule unit-tested in
    tests/test_llm_ops.py. n_cells pinned at 16 (the independent
    re-derivation's value) — production callers use the auto default,
    which scales cell count with corpus size."""
    from ct_mapreduce_spark.operators.similarity import semdedup_pairs

    return semdedup_pairs(_t(spark, sf_dir, "embeddings"), n_cells=16)


@q("emb_prototype_prune", _pin("emb_prototype_prune"), "dedup")
def emb_prototype_prune(spark, sf_dir):
    """Prototype-based pruning (operators/similarity.py:prototype_prune
    — Sorscher et al. 2022): keep each cluster's hardest half by cosine
    distance to its prototype, the published abundant-data selection
    metric. Scoring is fully narrow (literal centroids + element_at —
    no join, no shuffle); per-cell counts broadcast back and the only
    shuffle is the bounded-cell rank window. Seeded xxhash64 centroid
    pick is not SQL-recomputable => golden-literal oracle, independently
    re-derived by tools/independent_oracle.py. n_cells pinned at 16;
    production callers use the auto default (cell size stays constant
    as the corpus grows)."""
    from ct_mapreduce_spark.operators.similarity import prototype_prune

    return prototype_prune(
        _t(spark, sf_dir, "embeddings"), keep_frac=0.5, n_cells=16
    )


@q("emb_pq_topk", _pin("emb_pq_topk"), "similarity")
def emb_pq_topk(spark, sf_dir):
    """Product-quantization ADC search (operators/similarity.py:pq_topk):
    seeded per-subspace codebooks, corpus rows as m_sub=8 codes (32x
    smaller than fp32 at dim=64 — the memory tier below int8), queries
    score candidates via broadcast lookup tables: 8 adds per candidate
    instead of 64 multiplies, no corpus shuffle. Seeded hash codebook
    pick => golden-literal oracle; recall vs exact cosine asserted in
    tests/test_llm_ops.py."""
    from ct_mapreduce_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.where(F.col("vec_id") < 8), k=5)


@q("emb_pq_rerank_topk", _pin("emb_pq_rerank_topk"), "similarity")
def emb_pq_rerank_topk(spark, sf_dir):
    """PQ with exact re-rank (the FAISS refine shape): ADC shortlists
    k*4 candidates from the code table, then only that sliver's full
    vectors are fetched (broadcast shortlist, corpus unshuffled) and
    re-scored with exact cosine. Recovers exact-top-k recall where pure
    ADC ties inside tight clusters (asserted in tests/test_llm_ops.py);
    seeded codebooks => golden-literal oracle."""
    from ct_mapreduce_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.where(F.col("vec_id") < 8), k=5, rerank_factor=4)


@q("emb_pq_indexed_topk", _pin("emb_pq_topk"), "similarity")
def emb_pq_indexed_topk(spark, sf_dir):
    """The 100 TB serving shape of emb_pq_topk: materialize the codes
    table + codebook sidecar once (pq_build_index, idempotent per
    sf_dir), then serve by ADC-scanning the persisted 8-bytes-per-row
    codes — no per-query codebook estimation or corpus re-encode.
    Bit-identical to the inline path by construction (shared
    _pq_adc_rank expressions, stored codebooks = the inline
    estimation), so it shares emb_pq_topk's independently re-derived
    pin."""
    import os

    from ct_mapreduce_spark.operators.similarity import (
        pq_build_index,
        pq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = _artifact_path("emb_pq_indexed_topk", sf_dir)
    if not os.path.exists(idx + "/codes/_SUCCESS"):
        pq_build_index(emb, idx)
        _evict_stale_tagged(idx)
    return pq_topk_indexed(
        spark, idx, emb.where(F.col("vec_id") < 8), k=5
    )


@q("emb_pq_ivf_topk", _pin("emb_pq_ivf_topk"), "similarity")
def emb_pq_ivf_topk(spark, sf_dir):
    """IVF-PQ serving (Jégou et al. 2011 IVFADC — the 100 TB shape of
    emb_pq_indexed_topk): the PQ codes table partitioned by IVF cell,
    probes partition-pruned to n_probe/n_cells of the codes
    (PartitionFilters asserted in tests/test_llm_ops.py), ADC scoring
    restricted to (query, probed-cell) pairs, exact-cosine re-rank of
    the shortlist sliver. Two prunings multiply: a probe reads 8
    bytes/row of a quarter of the corpus instead of full vectors of all
    of it. Seeded centroid + codebook estimation => golden-literal
    oracle, independently re-derived (tools/independent_oracle.py)."""
    import os

    from ct_mapreduce_spark.operators.similarity import (
        pq_ivf_build_index,
        pq_ivf_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = _artifact_path("emb_pq_ivf_topk", sf_dir)
    if not os.path.exists(idx + "/codes/_SUCCESS"):
        pq_ivf_build_index(emb, idx)
        _evict_stale_tagged(idx)
    out = pq_ivf_topk_indexed(
        spark, idx, emb.where(F.col("vec_id") < 8), k=5, n_probe=4,
        rerank_corpus=emb, rerank_factor=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@q("emb_pq_ivf_residual_topk", _pin("emb_pq_ivf_residual_topk"), "similarity")
def emb_pq_ivf_residual_topk(spark, sf_dir):
    """The residual tier of emb_pq_ivf_topk — the full published IVFADC
    (Jégou et al. 2011 §III): codebooks estimated over and codes
    quantizing x − centroid(cell(x)); serving adds the per-(query,
    probed-cell) <q, centroid> term back before the single rounding
    (<q,x> = <q,c> + <q,r>). Same cell-pruned plan shape
    (PartitionFilters on the codes scan); honest trade note: on the
    near-uniform synthetic embeddings the raw and residual tiers score
    comparably — the residual's per-code accuracy advantage shows on
    clustered real-world distributions with refined codebooks. Seeded
    models => golden-literal oracle, independently re-derived."""
    import os

    from ct_mapreduce_spark.operators.similarity import (
        pq_ivf_build_index,
        pq_ivf_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = f"/tmp/ctspark_pqivfres_idx_{_cache_tag(sf_dir, 'embeddings', 'v1')}"
    if not os.path.exists(idx + "/codes/_SUCCESS"):
        pq_ivf_build_index(emb, idx, residual=True)
        _evict_stale_tagged(idx)
    out = pq_ivf_topk_indexed(
        spark, idx, emb.where(F.col("vec_id") < 8), k=5, n_probe=4,
        rerank_corpus=emb, rerank_factor=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@q("emb_pq_ivf_refined_topk", _pin("emb_pq_ivf_refined_topk"), "similarity")
def emb_pq_ivf_refined_topk(spark, sf_dir):
    """The RECOMMENDED r9 serving composition: residual IVFADC under a
    Lloyd-REFINED coarse quantizer (pq_ivf_build_index residual=True,
    refine_iters=2 on the deterministic 1/4 hash-sample — the 100 TB
    refinement shape of emb_ann_ivf_refined). The r9 regime matrix
    (tests/test_llm_ops.py::test_pq_ivf_residual_regime_matrix) showed
    the r8 residual-loses finding was the UNREFINED quantizer: a
    hash-sampled member is not a mean, so residuals were off-center;
    refined, the residual tier wins on both fixture shapes. Same
    cell-pruned plan (PartitionFilters on the codes scan) + exact
    re-rank. Seeded models => golden-literal oracle, independently
    re-derived (tools/independent_oracle.py)."""
    import os

    from ct_mapreduce_spark.operators.similarity import (
        pq_ivf_build_index,
        pq_ivf_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = f"/tmp/ctspark_pqivfref_idx_{_cache_tag(sf_dir, 'embeddings', 'v1')}"
    if not os.path.exists(idx + "/codes/_SUCCESS"):
        pq_ivf_build_index(
            emb, idx, residual=True, refine_iters=2, refine_sample_mod=4
        )
        _evict_stale_tagged(idx)
    out = pq_ivf_topk_indexed(
        spark, idx, emb.where(F.col("vec_id") < 8), k=5, n_probe=4,
        rerank_corpus=emb, rerank_factor=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@q("emb_cluster_balanced_sample", _pin("emb_cluster_balanced_sample"), "similarity")
def emb_cluster_balanced_sample(spark, sf_dir):
    """Semantic data mixing (operators/similarity.py:
    cluster_balanced_sample): nearest-seeded-cell assignment (the IVF
    rule, narrow) -> deterministic mixture rebalance to uniform over
    the observed cells (sampling.mixture_rebalance; md5-uniform draw on
    vec_id). Stops a crawl's dominant topic cluster from dominating the
    training mix. Membership is a pure function of (seed, corpus) —
    seeded xxhash64 centroid pick is not SQL-recomputable =>
    golden-literal oracle, independently re-derived
    (tools/independent_oracle.py)."""
    from ct_mapreduce_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    return cluster_balanced_sample(
        _t(spark, sf_dir, "embeddings"), n_cells=16
    ).select("vec_id", F.col("cell").cast("long").alias("cell"))


@q(
    "a11_unpivot",
    """
    SELECT p_partkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
      UNION ALL
      SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    ) t
    """,
    "agg",
)
def a11_unpivot(spark, sf_dir):
    """Unpivot/melt — the inverse of a6_pivot (wide -> long)."""
    p = _t(spark, sf_dir, "part")
    return p.unpivot(
        "p_partkey",
        [F.col("p_retailprice").alias("retail"), F.col("p_size").cast("double").alias("size")],
        "metric",
        "val",
    )


# ------------------------------------------------------------------ tokenizer
# Learned BPE pipeline (operators/tokenizer.py): one corpus-sized frequency
# pass, driver-side training on the model-sized capped table, distributed
# memoized encode. No reference analog; extends the LLM-pipeline surface.

# LRU-bounded like similarity._SIDECAR_MEMO (r11 verdict task 4): keyed
# by corpus fingerprint, so a long-lived process cycling regenerated
# testdata would otherwise retain one trained merge list per generation.
_BPE_MERGE_CACHE: similarity._BoundedMemo = similarity._BoundedMemo()


def _bpe_merges(spark, sf_dir):
    """Train-once-per-corpus merges (keyed by the documents fingerprint so
    a driver regeneration invalidates; the three tokenizer queries share
    one training run the way a real pipeline shares one tokenizer)."""
    from ct_mapreduce_spark.operators.tokenizer import bpe_train, word_frequencies

    tag = _cache_tag(sf_dir, "documents", "bpe-v1")
    got = _BPE_MERGE_CACHE.get(tag)
    if got is None:
        freq = word_frequencies(
            _t(spark, sf_dir, "documents"), top_v=8192
        )
        got = _BPE_MERGE_CACHE[tag] = bpe_train(freq, n_merges=60, min_count=2)
    return got


@q(
    "docs_word_frequencies",
    r"""
    SELECT word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
          FROM documents) t
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 50
    """,
    "tokenizer",
)
def docs_word_frequencies(spark, sf_dir):
    """Top-V word-frequency table (operators/tokenizer.py:
    word_frequencies) — tokenizer training's only corpus-sized pass.
    groupBy(word) map-side-combines; the deterministic (n DESC, word)
    cap compiles to TakeOrderedAndProject (per-partition partial top-k,
    never a global sort). Full DuckDB oracle."""
    from ct_mapreduce_spark.operators.tokenizer import word_frequencies

    return word_frequencies(_t(spark, sf_dir, "documents"), top_v=50)


@q("docs_bpe_vocab", _pin("docs_bpe_vocab"), "tokenizer")
def docs_bpe_vocab(spark, sf_dir):
    """The learned BPE merge table itself: (mrank, lhs, rhs, merged) in
    training order — the model artifact a tokenize stage ships. Training
    runs driver-side on the top-V frequency table (model-sized by
    contract); pinned via the independent no-Spark re-derivation
    (naive per-round recount vs the engine's incremental statistics)."""
    merges = _bpe_merges(spark, sf_dir)
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return local_frame(
        spark, rows, "mrank BIGINT, lhs STRING, rhs STRING, merged STRING"
    )


@q("docs_bpe_token_stats", _pin("docs_bpe_token_stats"), "tokenizer")
def docs_bpe_token_stats(spark, sf_dir):
    """Per-document BPE token counts + compression (chars per token) under
    the corpus-trained tokenizer. Encode is memoized mapInPandas
    (operators/tokenizer.py:token_counts) — narrow, no shuffle; the pin
    gate cross-checks the engine's in-order merge application against the
    oracle's min-rank iterative encode."""
    from ct_mapreduce_spark.operators.tokenizer import token_counts

    docs = _t(spark, sf_dir, "documents")
    tc = token_counts(docs, _bpe_merges(spark, sf_dir))
    return tc.select(
        "doc_id",
        "n_bpe_tokens",
        F.length("text").cast("bigint").alias("n_text_chars"),
        F.round(
            F.length("text").cast("double")
            / F.greatest(F.col("n_bpe_tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("chars_per_token"),
    )


@q("docs_bpe_top_tokens", _pin("docs_bpe_top_tokens"), "tokenizer")
def docs_bpe_top_tokens(spark, sf_dir):
    """Corpus token-frequency head under the learned tokenizer (top 40 by
    (n DESC, token)) — the discriminating summary: any divergence in the
    merge table reshapes every count. explode -> map-side-combined
    groupBy -> TakeOrderedAndProject."""
    from ct_mapreduce_spark.operators.tokenizer import bpe_encode

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _bpe_merges(spark, sf_dir))
    return (
        enc.select(F.explode("bpe_tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(40)
    )


@q(
    "docs_seeded_shuffle",
    """
    WITH t AS (
      SELECT doc_id,
             md5(concat('42', ':', CAST(doc_id AS VARCHAR))) AS rk
      FROM documents
    ), s AS (
      SELECT doc_id, rk,
             CAST(('0x' || substr(rk, 1, 8)) AS BIGINT) % 8 AS shard
      FROM t
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (
             PARTITION BY shard ORDER BY rk, doc_id) - 1 AS BIGINT) AS pos
    FROM s
    """,
    "sampling",
)
def docs_seeded_shuffle(spark, sf_dir):
    """Deterministic seeded global shuffle (operators/sampling.py:
    seeded_shuffle): every doc's (shard, pos) under the seed-42 md5
    permutation — the pre-training corpus shuffle as a pure function of
    the data. One hash-partitioned exchange + per-shard sort (the sort an
    ordered-shard writer pays anyway); never a global orderBy. Full
    DuckDB oracle replays the identical permutation."""
    from ct_mapreduce_spark.operators.sampling import seeded_shuffle

    docs = _t(spark, sf_dir, "documents")
    return seeded_shuffle(docs, "doc_id", seed=42, n_shards=8).select(
        "doc_id", "shard", "pos"
    )


# ------------------------------------------------------------------ regression
# One-pass linear model fitting (operators/regression.py): corpus work is a
# single map-side-combined moment aggregation; the solve is exact-rational
# on the driver; scoring is scan-local integer arithmetic. Pinned via an
# independent derivation that solves the same normal equations by Cramer
# determinants instead of Gaussian elimination.

_RIDGE_FEATURES = ["x_words", "x_distinct"]


def _ridge_features(docs):
    words = F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != "")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("y"),
        F.size(words).cast("long").alias("x_words"),
        F.size(F.array_distinct(words)).cast("long").alias("x_distinct"),
    )


@q("docs_ridge_fit", _pin("docs_ridge_fit"), "regression")
def docs_ridge_fit(spark, sf_dir):
    """Chars-from-word-shape calibration model: OLS of text length on
    (word count, distinct-word count), fit in ONE exact-integer moment
    aggregation + an exact-rational driver solve. Output is the model
    artifact — weights, R^2, n — HALF_UP-rounded only at this edge."""
    from ct_mapreduce_spark.operators.regression import fit_linear, round_frac

    feats = _ridge_features(_t(spark, sf_dir, "documents"))
    fit = fit_linear(feats, _RIDGE_FEATURES, "y")
    rows = [("intercept", round_frac(fit["weights"]["intercept"]))]
    rows += [(f, round_frac(fit["weights"][f])) for f in _RIDGE_FEATURES]
    rows += [("__r2__", round_frac(fit["r2"])), ("__n__", float(fit["n"]))]
    return local_frame(spark, rows, "term STRING, value DOUBLE")


@q("docs_ridge_scores", _pin("docs_ridge_scores"), "regression")
def docs_ridge_scores(spark, sf_dir):
    """Distributed scoring under the one-pass fit: per-doc prediction and
    residual. predict_expr is pure codegen integer arithmetic (weights
    enter as 1e6-scaled integers), so every engine computes the identical
    double — no float fold order anywhere."""
    from ct_mapreduce_spark.operators.regression import fit_linear, predict_expr

    feats = _ridge_features(_t(spark, sf_dir, "documents"))
    fit = fit_linear(feats, _RIDGE_FEATURES, "y")
    scored = feats.select(
        "doc_id",
        F.col("y").cast("double").alias("y"),
        predict_expr(fit["weights"], _RIDGE_FEATURES),
    )
    return scored.select(
        "doc_id",
        "y",
        "prediction",
        F.round(F.col("y") - F.col("prediction"), 6).alias("residual"),
    )


@q("docs_bpe_vocab_ids", _pin("docs_bpe_vocab_ids"), "tokenizer")
def docs_bpe_vocab_ids(spark, sf_dir):
    """The id-numbered vocabulary: sorted base alphabet first, merged
    tokens in merge order after — the exact table a dataloader's
    id->token lookup ships with. Driver-built (model-sized), pinned via
    the independent derivation."""
    from ct_mapreduce_spark.operators.tokenizer import (
        alphabet_of,
        bpe_vocab,
        word_frequencies,
    )

    docs = _t(spark, sf_dir, "documents")
    freq = word_frequencies(docs, top_v=8192)
    rows_f = [(r["word"], int(r["n"])) for r in freq.collect()]
    vocab = bpe_vocab(_bpe_merges(spark, sf_dir), alphabet_of(rows_f))
    return local_frame(
        spark,
        sorted((tid, tok) for tok, tid in vocab.items()),
        "token_id BIGINT, token STRING",
    )


@q("docs_bpe_token_ids", _pin("docs_bpe_token_ids"), "tokenizer")
def docs_bpe_token_ids(spark, sf_dir):
    """Training-ready id streams for a deterministic document sample
    (doc_id % 25 == 0), exploded to (doc_id, pos, token_id) scalar rows
    so the pin gate hashes every position. The memoized mapInPandas
    encode resolves ids through the stored vocabulary; -1 is the UNK
    contract for symbols unseen at training time."""
    from ct_mapreduce_spark.operators.tokenizer import (
        alphabet_of,
        bpe_encode_ids,
        bpe_vocab,
        word_frequencies,
    )

    docs = _t(spark, sf_dir, "documents")
    freq = word_frequencies(docs, top_v=8192)
    rows_f = [(r["word"], int(r["n"])) for r in freq.collect()]
    merges = _bpe_merges(spark, sf_dir)
    vocab = bpe_vocab(merges, alphabet_of(rows_f))
    sample = docs.where(F.col("doc_id") % 25 == 0)
    enc = bpe_encode_ids(sample, merges, vocab)
    return enc.select(
        "doc_id", F.posexplode("token_ids").alias("pos", "token_id")
    )


# --- DSIR-style importance selection (operators/selection.py) ---------
# Shared oracle fragments: the hashed gram stream (unigrams + bigrams,
# md5-prefix bucket ids — the mixture_rebalance hashing device) and the
# 256-bucket integer micro-weight table. Determinism rests on the
# repo-wide exact-arithmetic rule: the log-ratio is rounded ONCE into an
# integer weight, so document scores are order-independent integer sums
# and both engines hash-match bit-for-bit.

_DSIR_GRAMS = r"""toks AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, lang,
             unnest(list_concat(
               list_filter(w, t -> t <> ''),
               list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i + 1])
             )) AS g
      FROM toks
    ), gb AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 256 AS bucket
      FROM grams
    )"""

_DSIR_WEIGHTS = r"""tc AS (
      SELECT bucket, count(*) AS n FROM gb WHERE lang = 'en' GROUP BY bucket
    ), rc AS (
      SELECT bucket, count(*) AS n FROM gb GROUP BY bucket
    ), spine AS (
      SELECT range AS bucket FROM range(0, 256)
    ), j AS (
      SELECT s.bucket,
             CAST(COALESCE(tc.n, 0) AS BIGINT) AS target_n,
             CAST(COALESCE(rc.n, 0) AS BIGINT) AS raw_n
      FROM spine s LEFT JOIN tc ON s.bucket = tc.bucket
                   LEFT JOIN rc ON s.bucket = rc.bucket
    ), wt AS (
      SELECT bucket, target_n, raw_n,
             CAST(round(ln(
               ((CAST(target_n AS DOUBLE) + 1.0)
                 * (CAST(CAST(SUM(raw_n) OVER () AS BIGINT) AS DOUBLE)
                    + 256.0))
               / ((CAST(raw_n AS DOUBLE) + 1.0)
                 * (CAST(CAST(SUM(target_n) OVER () AS BIGINT) AS DOUBLE)
                    + 256.0))
             ) * 1000000.0) AS BIGINT) AS weight_micro
      FROM j
    )"""

_DSIR_SCORES = r"""s AS (
      SELECT gb.doc_id,
             CAST(SUM(wt.weight_micro) AS BIGINT) AS dsir_score_micro,
             CAST(count(*) AS BIGINT) AS n_grams
      FROM gb JOIN wt USING (bucket) GROUP BY gb.doc_id
    )"""


@q(
    "docs_dsir_weights",
    "WITH " + _DSIR_GRAMS + ", " + _DSIR_WEIGHTS
    + "\n    SELECT bucket, target_n, raw_n, weight_micro FROM wt",
    "selection",
)
def docs_dsir_weights(spark, sf_dir):
    """DSIR importance model (operators/selection.py:
    dsir_weights_flagged): hashed unigram+bigram bucket counts for the
    target distribution (lang='en' documents) vs the raw corpus, and
    the add-one-smoothed integer micro-weight
    round(ln(((t+1)(R+B))/((r+1)(T+B)))*1e6) per bucket. 256 rows —
    model parameters. Target-is-a-slice-of-raw, so ONE gram explosion
    with a conditional count builds both profiles (the two-frame
    dsir_weights form pays two corpus scans; tier-equality pytest);
    the totals window runs over the bounded bucket frame, never the
    corpus."""
    from ct_mapreduce_spark.operators.selection import dsir_weights_flagged

    d = _t(spark, sf_dir, "documents")
    return dsir_weights_flagged(d, F.col("lang") == "en", n_buckets=256)


@q(
    "docs_dsir_scores",
    "WITH " + _DSIR_GRAMS + ", " + _DSIR_WEIGHTS + ", " + _DSIR_SCORES
    + r"""
    SELECT d.doc_id,
           CAST(COALESCE(s.dsir_score_micro, 0) AS BIGINT)
             AS dsir_score_micro,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams
    FROM documents d LEFT JOIN s USING (doc_id)""",
    "selection",
)
def docs_dsir_scores(spark, sf_dir):
    """Per-document DSIR importance score: the exact integer sum of the
    document's gram bucket micro-weights under the lang='en' target
    model. Explode -> codegen md5 bucket -> broadcast join against the
    256-row weight table -> map-side-combined groupBy(doc) — the shuffle
    carries one row per document."""
    from ct_mapreduce_spark.operators.selection import (
        dsir_score,
        dsir_weights_flagged,
    )

    d = _t(spark, sf_dir, "documents")
    w = dsir_weights_flagged(d, F.col("lang") == "en", n_buckets=256)
    return dsir_score(d, w, n_buckets=256)


@q(
    "docs_token_budget",
    "WITH " + _DSIR_GRAMS + ", " + _DSIR_WEIGHTS + ", " + _DSIR_SCORES
    + r""", t AS (
      SELECT d.doc_id,
             CAST(COALESCE(s.dsir_score_micro, 0) AS BIGINT)
               AS dsir_score_micro,
             CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents d LEFT JOIN s USING (doc_id)
    ), c AS (
      SELECT doc_id, dsir_score_micro, n_tokens,
             CAST(SUM(n_tokens) OVER (
               ORDER BY dsir_score_micro DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, dsir_score_micro, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 8000""",
    "selection",
)
def docs_token_budget(spark, sf_dir):
    """Token-budget selection (operators/selection.py:
    select_token_budget): fill an 8,000-token budget with the highest
    DSIR-scoring documents (score DESC, doc_id tiebreak), keeping every
    row whose inclusive running token total still fits. The oracle is an
    ordinary window cumsum; the engine computes the SAME integer result
    via the packing module's two-phase distributed prefix sum over the
    negated-score order key — no global single-partition window. The
    whole (id, score, n_tokens) frame derives from ONE gram pass
    (selection.dsir_scored_flagged, r15 — weights, scores and token
    counts shared a compact per-(doc, bucket) rollup instead of three
    corpus text scans) and is lazily localCheckpointed so the prefix
    sum's first bounded driver action materializes it once."""
    from ct_mapreduce_spark.operators.selection import (
        dsir_scored_flagged,
        select_token_budget,
    )

    d = _t(spark, sf_dir, "documents")
    frame = dsir_scored_flagged(
        d, F.col("lang") == "en", n_buckets=256, with_tokens=True
    ).select("doc_id", "dsir_score_micro", "n_tokens").localCheckpoint(
        eager=False
    )
    return select_token_budget(
        frame, 8000, "dsir_score_micro", count_col="n_tokens"
    )


@q(
    "docs_lang_token_budget",
    "WITH " + _DSIR_GRAMS + ", " + _DSIR_WEIGHTS + ", " + _DSIR_SCORES
    + r""", t AS (
      SELECT d.doc_id, d.lang,
             CAST(COALESCE(s.dsir_score_micro, 0) AS BIGINT)
               AS dsir_score_micro,
             CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents d LEFT JOIN s USING (doc_id)
    ), c AS (
      SELECT doc_id, lang, dsir_score_micro, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY dsir_score_micro DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, lang, dsir_score_micro, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 2000""",
    "selection",
)
def docs_lang_token_budget(spark, sf_dir):
    """Per-stratum token budgets (operators/selection.py:
    select_token_budget_per_stratum): fill 2,000 tokens PER LANGUAGE
    with that language's highest DSIR-scoring documents — the
    mixture-aware form of docs_token_budget ("5B tokens per language",
    not "50B wherever they land"). The oracle is a per-lang window
    cumsum; the engine computes the SAME integer result with subtotals
    grouped by (lang, score-range bucket) — model-sized driver traffic —
    and a corpus window partitioned by (lang, bucket), so no language
    ever sorts on a single task."""
    from ct_mapreduce_spark.operators.selection import (
        dsir_score,
        dsir_weights_flagged,
        select_token_budget_per_stratum,
    )
    from ct_mapreduce_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    w = dsir_weights_flagged(d, F.col("lang") == "en", n_buckets=256)
    scored = dsir_score(d, w, n_buckets=256)
    frame = (
        d.select(
            "doc_id",
            "lang",
            F.size(tokens("text")).cast("long").alias("n_tokens"),
        )
        .join(scored.select("doc_id", "dsir_score_micro"), "doc_id")
        .localCheckpoint()
    )
    return select_token_budget_per_stratum(
        frame, 2000, "dsir_score_micro", "lang", count_col="n_tokens"
    )
