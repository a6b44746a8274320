"""Row/key digest primitives.

Reference semantics (not bit-compatibility — different engine):
- the reference hashes every canonical row string with xxHash3 seed
  199972221018 (datachecker-common/.../util/LongHashFunctionWrapper.java:31-36,
  datachecker-extract/.../util/HashHandler.java:37-43);
- ``key`` = PK values joined with ``"_#_"``
  (HashHandler.java:76-95; delimiter datachecker-common/.../constant/Constants.java:29);
- ``vHash`` = hash of the concatenation of canonical column strings in
  metadata column order, SQL NULL hashed as "" (HashHandler.java:53-63).

Two hash families here:

* **engine digests** (``k_hash`` / ``v_hash``): Spark-native
  ``xxhash64`` — JVM-side, codegen'd, the fast path for the digest
  tree.  Used wherever hash *values* never leave the engine
  (bucket signatures, pruning joins, salting).
* **portable digests** (``portable_hash64``): 60-bit integer from the
  first 15 hex chars of md5 — expressible *identically* in Spark
  (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
  (``('0x'||substr(md5(x),1,15))::BIGINT``), so oracle-checked query
  outputs that must expose a hash (dedup group ids, minhash
  signatures, simhash bits) agree across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Joint-PK join delimiter — same literal as the reference
#: (datachecker-common/.../constant/Constants.java:29) so violation keys
#: read the same in reports.
PK_DELIMITER = "_#_"


def pk_key(*cols: Column | str) -> Column:
    """Composite primary key string: values joined by ``_#_``.

    Mirrors HashHandler.value (datachecker-extract/.../util/HashHandler.java:76-95).
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.concat_ws(PK_DELIMITER, *[c.cast("string") for c in cs])


def _null_safe(c: Column) -> Column:
    """SQL NULL canonicalizes to "" as in the reference
    (HashHandler.java:58): null and empty string collide inside the
    digest, a quirk kept (and tested) for verdict parity."""
    return F.coalesce(c.cast("string"), F.lit(""))


def k_hash(key: Column) -> Column:
    """Engine key hash (routes rows to buckets). xxhash64, JVM-side."""
    return F.xxhash64(key)


def v_hash(*canonical_cols: Column) -> Column:
    """Engine row-content digest over canonical column strings.

    Order of ``canonical_cols`` is the metadata column order, like the
    reference's vHash (HashHandler.java:53-63). xxhash64 hashes each
    column as a distinct input (length-prefixed internally), so no
    concat-ambiguity; nulls are mapped to '' first to preserve the
    reference's null=='' digest quirk deterministically.
    """
    return F.xxhash64(*[_null_safe(c) for c in canonical_cols])


def portable_hash64(c: Column) -> Column:
    """60-bit non-negative bigint hash identical in Spark and DuckDB.

    Spark:  conv(substr(md5(x), 1, 15), 16, 10) cast bigint
    DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT
    """
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB-side rendering of :func:`portable_hash64` for oracle SQL."""
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15))::BIGINT)"


def portable_hash64_seeded(c: Column, seed: int) -> Column:
    """Seeded portable hash: md5 over ``seed || ':' || x``."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), c.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def portable_hash64_seeded_sql(expr: str, seed: int) -> str:
    return (
        f"(('0x' || substr(md5('{seed}' || ':' || CAST({expr} AS VARCHAR)), 1, 15))::BIGINT)"
    )
