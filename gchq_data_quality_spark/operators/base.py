"""Rule base class: declarative config that COMPILES to Catalyst expressions.

Architecture note (the key divergence from the reference): the reference
evaluates every rule by shipping pandas code to each partition through
``mapInPandas`` (rules/base.py:435-462) — an optimisation barrier that costs
one full scan per rule. Here a rule *compiles* to a pair of boolean
``Column`` expressions:

    evaluated : which rows this rule is measured on (never NULL)
    passing   : which rows satisfy it (may be NULL; aggregation coalesces to
                False, matching pandas ``mask.fillna(False)`` at
                rules/base.py:406-412)

so the engine can evaluate EVERY rule of a config in a single Catalyst-planned
job: one scan, map-side partial aggregation, whole-stage codegen throughout.

Rule semantics parity (all citations into /root/reference):
- field surface + skip_if_null + na_values: rules/base.py:57-106
- evaluated = NOT skip_if_null mask: rules/base.py:224-244
- records_passing = evaluated AND passing(fillna False): rules/base.py:353-368
- pass_rate = passing/evaluated, None when 0 evaluated:
  rules/utils/rules_utils.py:23-37
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from collections.abc import Callable
from dataclasses import dataclass, field as dc_field
from functools import reduce
from typing import Any, Literal

from pydantic import Field
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gchq_data_quality_spark.models import (
    DataQualityBaseModel,
    DataQualityDimension,
)
from gchq_data_quality_spark.plans.coercion import nullify

Resolver = Callable[[str], Column]
DtypeOf = Callable[[str], T.DataType]


@dataclass
class CompiledRule:
    """A rule lowered to Catalyst expressions over one flattened view."""

    rule: "BaseRule"
    columns_used: list[str]
    evaluated: Column  # boolean, never NULL
    passing: Column  # boolean, NULL treated as False downstream
    prepared: dict[str, Column] = dc_field(default_factory=dict)  # coerced cols
    # Uniqueness-style rules need global aggregates instead of per-row masks:
    agg_evaluated: Column | None = None
    agg_passing: Column | None = None

    @property
    def is_global(self) -> bool:
        return self.agg_evaluated is not None

    def passing_filled(self) -> Column:
        return self.evaluated & F.coalesce(self.passing, F.lit(False))


class BaseRule(DataQualityBaseModel, ABC):
    """Abstract declarative rule. Subclasses define coercion + passing logic."""

    field: str = Field(..., description="Column to check")
    rule_id: str | None = Field(default=None, description="Identifier for this rule")
    rule_description: str | None = Field(
        default=None, description="Description of the rule"
    )
    na_values: str | int | float | list[Any] | None = Field(
        default=None, description="Additional values to treat as null"
    )
    skip_if_null: Literal["all", "any", "never"] = Field(
        default="any",
        description=(
            "Which rows are skipped (not evaluated) when rule columns are NULL: "
            "'any' skips if any used column is NULL, 'all' only if every used "
            "column is NULL, 'never' evaluates all rows."
        ),
    )
    data_quality_dimension: DataQualityDimension = Field(
        ..., description="The DAMA dimension for this rule"
    )

    # ------------------------------------------------------------------
    def columns_used(self) -> list[str]:
        """Columns this rule reads (nested paths allowed)."""
        return [self.field]

    def _coerce(self, col: Column, dtype: T.DataType) -> tuple[Column, T.DataType]:
        """Rule-specific dtype coercion; default none."""
        return col, dtype

    def _prepare(self, resolver: Resolver, dtype_of: DtypeOf) -> dict[str, Column]:
        prepared: dict[str, Column] = {}
        for name in self.columns_used():
            col, dtype = self._coerce(resolver(name), dtype_of(name))
            prepared[name] = nullify(col, dtype, self.na_values)
        return prepared

    def _skip_mask(self, prepared: dict[str, Column]) -> Column:
        nulls = [c.isNull() for c in prepared.values()]
        if self.skip_if_null == "any":
            return reduce(lambda a, b: a | b, nulls)
        if self.skip_if_null == "all":
            return reduce(lambda a, b: a & b, nulls)
        return F.lit(False)

    def _evaluated(self, prepared: dict[str, Column]) -> Column:
        return ~self._skip_mask(prepared)

    @abstractmethod
    def _passing(self, prepared: dict[str, Column]) -> Column:
        """Boolean Column: True where the record satisfies the rule."""

    def compile(self, resolver: Resolver, dtype_of: DtypeOf) -> CompiledRule:
        """Lower this rule onto a (flattened) DataFrame view."""
        prepared = self._prepare(resolver, dtype_of)
        return CompiledRule(
            rule=self,
            columns_used=self.columns_used(),
            evaluated=self._evaluated(prepared),
            passing=self._passing(prepared),
            prepared=prepared,
        )

    # ------------------------------------------------------------------
    def evaluate(self, data_source, row_id_col: str | None = None):
        """Evaluate this single rule against a data source — the reference's
        primary user entry point (rules/base.py:120-162). Accepts a Spark
        DataFrame or a pandas DataFrame (converted through the active
        SparkSession, same as config execution); returns a DataQualityResult.

        The whole-config path (``evaluate_rules`` / ``DataQualityConfig``)
        stays the scale-preferred API: it runs every rule's metrics in ONE
        aggregation job, while this runs one job for one rule.
        """
        import pandas as pd

        from gchq_data_quality_spark.engine import evaluate_rules

        df = data_source
        if isinstance(df, pd.DataFrame):
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise ValueError(
                    "rule.evaluate(pandas_df) needs an active SparkSession"
                )
            df = spark.createDataFrame(data_source)
        from pyspark.sql import DataFrame as SparkDataFrame

        if not isinstance(df, SparkDataFrame):
            raise ValueError(
                "You must pass in a pandas or Spark DataFrame "
                f"(got {type(data_source).__name__}); Elasticsearch sources are "
                "not implemented (the reference declares the same, "
                "rules/base.py:155-160)."
            )
        return evaluate_rules(df, [self], row_id_col=row_id_col)[0]
