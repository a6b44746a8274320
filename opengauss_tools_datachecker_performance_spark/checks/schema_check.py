"""Table-structure pre-check (SURVEY.md §3.2).

Reference: CheckTableStructureService compares table name sets and
case-insensitive column-name multisets between endpoints
(datachecker-check/.../service/CheckTableStructureService.java:65-80,119-133,190-200);
a structure mismatch excludes the table from the data check.

Here: compare a DataFrame schema against the expected StructType —
names lowercased + positional, types optionally enforced (stricter
than the reference, which only compares names). A failed schema check
short-circuits the table's other constraints in the runner, matching
the reference's exclusion semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T


@dataclass
class SchemaCheckResult:
    equal: bool
    missing_columns: list[str] = field(default_factory=list)
    extra_columns: list[str] = field(default_factory=list)
    type_mismatches: list[tuple[str, str, str]] = field(default_factory=list)
    order_mismatch: bool = False

    @property
    def message(self) -> str:
        if self.equal:
            return "table structure equals"
        bits = []
        if self.missing_columns:
            bits.append(f"missing={self.missing_columns}")
        if self.extra_columns:
            bits.append(f"extra={self.extra_columns}")
        if self.type_mismatches:
            bits.append(f"types={self.type_mismatches}")
        if self.order_mismatch:
            bits.append("column order differs")
        return "; ".join(bits)


def check_schema(
    df: DataFrame,
    expected: T.StructType,
    check_types: bool = True,
    check_order: bool = True,
) -> SchemaCheckResult:
    actual = {f.name.lower(): f for f in df.schema.fields}
    want = {f.name.lower(): f for f in expected.fields}
    missing = [n for n in want if n not in actual]
    extra = [n for n in actual if n not in want]
    types = []
    if check_types:
        for n in want:
            if n in actual and actual[n].dataType.simpleString() != want[n].dataType.simpleString():
                types.append((n, actual[n].dataType.simpleString(), want[n].dataType.simpleString()))
    order = False
    if check_order and not missing and not extra:
        order = [f.name.lower() for f in df.schema.fields] != [
            f.name.lower() for f in expected.fields
        ]
    return SchemaCheckResult(
        equal=not (missing or extra or types or order),
        missing_columns=missing,
        extra_columns=extra,
        type_mismatches=types,
        order_mismatch=order,
    )


#: the north-rule docs schema (BASELINE.json input_hint)
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)
