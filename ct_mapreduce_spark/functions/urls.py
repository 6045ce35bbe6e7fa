"""CRL distribution-point URL normalization (reference:
storage/issuermetadata.go:48-60 and tests issuermetadata_test.go:16-60).

Semantics: trim whitespace; parse; *silently* drop ldap/ldaps URLs; drop
anything that isn't http/https; de-duplicate after trimming.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_crl_dps(crl_dps: Column | str) -> Column:
    """array<string> -> array<string>: trimmed, http(s)-only, distinct.

    Works element-wise on the array column so it can run before an
    explode/collect_set without a shuffle.
    """
    trimmed = F.transform(_col(crl_dps), lambda u: F.trim(u))
    kept = F.filter(trimmed, lambda u: u.rlike("^https?://"))
    return F.array_distinct(kept)

