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
