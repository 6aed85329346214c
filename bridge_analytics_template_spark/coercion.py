"""Declarative schema-coercion pass (reference parity: ``modify_file_view_types``).

The reference's single most load-bearing semantic (SURVEY.md §1.3): ingest
permissively (everything lands as STRING / map), then apply a declarative
retype pass. The reference implements this as a Synapse column-entity rewrite
(`/root/reference/src/copy_from_template.py:164-232`): columns named in a
date list become DATE, a boolean list → BOOLEAN, an int list → INTEGER, two
oversized JSON-blob columns stay STRING(512), everything else STRING(128);
columns in an ignore list are left untouched, and only columns *currently*
STRING are retyped (`copy_from_template.py:195`).

Here the same semantics are a pure logical-plan rewrite: a ``CoercionSpec``
maps column names → Spark types, and :func:`apply_coercion` emits one
``select`` of ``cast`` expressions — Catalyst folds the casts into the scan,
so at 100 TB this costs nothing beyond the read itself.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference defaults, copy_from_template.py:164-190 (names, not code):
# string sizing is advisory in Spark (no fixed-width strings) but kept for
# validation via `enforce_max_size`.
DEFAULT_IGNORE_COLS = ("name", "etag", "type")
DEFAULT_XL_STR_COLS = ("clientInfo", "appInfo")
DEFAULT_DATE_COLS = (
    "exportedOn",
    "eventTimestamp",
    "uploadedOn",
    "scheduleModifiedOn",
    "startedOn",
)
DEFAULT_BOOL_COLS = (
    "timeWindowPersistent",
    "isFirstAssessment",
    "isLastAssessment",
    "schedulePublished",
)
DEFAULT_INT_COLS = (
    "sessionInstanceStartDay",
    "sessionInstanceEndDay",
    "assessmentRevision",
    "participantVersion",
)
DEFAULT_STR_SIZE = 128
XL_STR_SIZE = 512


@dataclass(frozen=True)
class CoercionSpec:
    """Which string columns become which logical type.

    Synapse DATE columns are epoch-millis instants, so they map to
    ``TimestampType`` (not ``DateType``); INTEGER maps to ``LongType``.
    """

    date_cols: tuple[str, ...] = DEFAULT_DATE_COLS
    bool_cols: tuple[str, ...] = DEFAULT_BOOL_COLS
    int_cols: tuple[str, ...] = DEFAULT_INT_COLS
    ignore_cols: tuple[str, ...] = DEFAULT_IGNORE_COLS
    xl_str_cols: tuple[str, ...] = DEFAULT_XL_STR_COLS
    max_sizes: dict[str, int] = field(default_factory=dict)

    def target_type(self, name: str) -> T.DataType | None:
        """Target Spark type for a (currently string-typed) column, or None
        if the column is ignored / stays string."""
        if name in self.ignore_cols:
            return None
        if name in self.date_cols:
            return T.TimestampType()
        if name in self.bool_cols:
            return T.BooleanType()
        if name in self.int_cols:
            return T.LongType()
        return None  # stays string (sized 128/512 advisory)

    def max_size(self, name: str) -> int:
        if name in self.max_sizes:
            return self.max_sizes[name]
        return XL_STR_SIZE if name in self.xl_str_cols else DEFAULT_STR_SIZE


def coercion_columns(df: DataFrame, spec: CoercionSpec) -> list[Column]:
    """Build the ordered projection of casts — the engine analog of the
    reference's ``orderedColumnIds`` change-set. Column order is preserved;
    only columns whose current type is string are retyped (parity with
    ``copy_from_template.py:195``).

    Permissive (``try_cast``): a malformed cell becomes null instead of
    failing the job — the schema-on-read contract, and the only survivable
    behavior when one bad record hides in 100 TB."""
    out: list[Column] = []
    for f in df.schema.fields:
        tgt = spec.target_type(f.name) if isinstance(f.dataType, T.StringType) else None
        if tgt is None:
            out.append(F.col(f.name))
        else:
            out.append(F.col(f.name).try_cast(tgt).alias(f.name))
    return out


def apply_coercion(df: DataFrame, spec: CoercionSpec | None = None) -> DataFrame:
    """One-pass declarative retype: ``df.select(cast, cast, ...)``."""
    return df.select(coercion_columns(df, spec or CoercionSpec()))


def enforce_max_size(df: DataFrame, spec: CoercionSpec | None = None) -> DataFrame:
    """Validation op for the advisory string sizes (128 / 512 for the JSON
    blob columns): adds ``<col>_oversize`` boolean flags instead of
    truncating, keeping the op side-effect-free."""
    spec = spec or CoercionSpec()
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, T.StringType) and f.name not in spec.ignore_cols:
            out = out.withColumn(
                f"{f.name}_oversize", F.length(F.col(f.name)) > spec.max_size(f.name)
            )
    return out
