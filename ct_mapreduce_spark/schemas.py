"""Fixed StructType schemas for the engine.

The reference's schema is code-defined Go structs (storage/types.go); there
is no schema-on-read anywhere. We mirror that: every dataset the engine
touches has a declared StructType here.

Mapping (see SURVEY.md §1.2):
- Serial      (storage/types.go:161-255)  -> BinaryType `serial`
- Issuer      (storage/types.go:104-141)  -> StringType `issuer_id`
- ExpDate     (storage/types.go:333-384)  -> TimestampType `not_after`
                                             + derived string buckets
- CertificateLog (storage/types.go:25-42) -> `LOG_STATES`
- UniqueCertIdentifier (storage/types.go:273-306)
                                          -> `STORE_KEYS`
- per-(issuer, expDate) SCARD lines (storage-statistics.go:49-55)
                                          -> `LEAF_COUNTS`

Tables of the LLM-data half that the engine writes and reads back itself
(no reference counterpart; declared so a read pays no footer inference):
- perplexity-gate model (operators/lm.py:lm_gate_model)
                                          -> `LM_UNIGRAM`, `LM_BIGRAM`
- benchmark-decontamination dictionary (plans/curate.py eval_grams)
                                          -> `EVAL_GRAMS`
- MinHash index increments (operators/dedup_fuzzy.py:write_postings)
                                          -> `BANDED_INC`, `SIGS_INC`,
                                             `HASHES_INC`
"""

from __future__ import annotations

from pyspark.sql import types as T

# The flattened CT log entry / parsed x509 row consumed by the ingest
# pipeline (cmd/ct-fetch/ct-fetch.go:191-229 flattened per FIXTURES.md §1).
CERTIFICATES = T.StructType(
    [
        T.StructField("log_url", T.StringType(), False),
        T.StructField("entry_id", T.LongType(), False),
        T.StructField("entry_type", T.StringType(), False),  # x509 | precert
        T.StructField("entry_ts", T.TimestampType(), True),
        T.StructField("raw_der", T.BinaryType(), True),
        T.StructField("serial", T.BinaryType(), False),
        T.StructField("issuer_id", T.StringType(), True),
        T.StructField("issuer_dn", T.StringType(), True),
        T.StructField("issuer_cn", T.StringType(), True),
        T.StructField("issuer_spki", T.BinaryType(), True),
        T.StructField("skid", T.BinaryType(), True),
        T.StructField("subject_cn", T.StringType(), True),
        T.StructField("not_before", T.TimestampType(), True),
        T.StructField("not_after", T.TimestampType(), False),
        T.StructField("is_ca", T.BooleanType(), False),
        T.StructField("basic_constraints_valid", T.BooleanType(), False),
        T.StructField("crl_dps", T.ArrayType(T.StringType()), True),
        T.StructField("chain_len", T.IntegerType(), False),
    ]
)

# Ingest cursor, the Spark analog of CertificateLog (storage/types.go:25-42)
# persisted at storage/localdiskbackend.go:201-210 / rediscache.go:180-204.
LOG_STATES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("max_entry", T.LongType(), False),
        T.StructField("last_entry_time", T.TimestampType(), True),
        T.StructField("last_update_time", T.TimestampType(), True),
    ]
)

# Key columns of the partitioned certificate store (plans/ingest.write_store):
# what the cross-run gate (sinks.append_new_to_store) reads back. The
# partition columns come back as the declared strings, never re-inferred.
STORE_KEYS = T.StructType(
    [
        T.StructField("exp_date", T.StringType(), True),
        T.StructField("issuer_id", T.StringType(), True),
        T.StructField("serial", T.BinaryType(), True),
    ]
)

# The maintained leaf-statistics table (operators/statistics.py), written
# with exactly these columns in this order. Nullable, as Spark reads every
# parquet column back.
LEAF_COUNTS = T.StructType(
    [
        T.StructField("issuer_id", T.StringType(), True),
        T.StructField("exp_date", T.StringType(), True),
        T.StructField("n_serials", T.LongType(), True),
        T.StructField("n_rows", T.LongType(), True),
    ]
)

# The perplexity gate's persisted model (operators/lm.py:lm_gate_model):
# the unigram table at `{lm_model}` (OOV row included) and, at order 2,
# the bigram table at `{lm_model}_bi`.
LM_UNIGRAM = T.StructType(
    [
        T.StructField("token", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("logp_micro", T.LongType(), True),
    ]
)
LM_BIGRAM = T.StructType(
    [
        T.StructField("w1", T.StringType(), True),
        T.StructField("w2", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("logs_micro", T.LongType(), True),
    ]
)

# The eval-suite gram dictionary curate persists at {workdir}/eval_grams:
# distinct word k-grams tagged with the k they were shingled at. An
# artifact from before k-tagging reads back with k null.
EVAL_GRAMS = T.StructType(
    [
        T.StructField("shingle", T.StringType(), True),
        T.StructField("k", T.IntegerType(), True),
    ]
)

# The MinHash index's per-batch increment trees ({index}/{store}_inc,
# operators/dedup_fuzzy.py:write_postings), partitioned by the batch tag.
# The tag is declared a string, so an all-numeric tag is not re-inferred
# as an integer.
BANDED_INC = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("band", T.IntegerType(), True),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("pfx", T.StringType(), True),
        T.StructField("ingest_batch", T.StringType(), True),
    ]
)
SIGS_INC = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("minhash", T.ArrayType(T.LongType()), True),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("sig_hash", T.StringType(), True),
        T.StructField("ingest_batch", T.StringType(), True),
    ]
)
HASHES_INC = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("hash", T.StringType(), True),
        T.StructField("hpfx", T.StringType(), True),
        T.StructField("ingest_batch", T.StringType(), True),
    ]
)

# Result schema of the parse_cert UDF surface (SURVEY §2.9).
PARSED_CERT = T.StructType(
    [
        T.StructField("serial", T.BinaryType(), True),
        T.StructField("issuer_dn", T.StringType(), True),
        T.StructField("subject_cn", T.StringType(), True),
        T.StructField("not_before", T.TimestampType(), True),
        T.StructField("not_after", T.TimestampType(), True),
        T.StructField("is_ca", T.BooleanType(), True),
        T.StructField("basic_constraints_valid", T.BooleanType(), True),
        T.StructField("skid", T.BinaryType(), True),
        T.StructField("spki_raw", T.BinaryType(), True),
        T.StructField("crl_dps", T.ArrayType(T.StringType()), True),
    ]
)

# Driver testdata tables (TESTDATA.md / FIXTURES.md §4).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
