"""Single-pass rule execution engine.

Replaces the reference's execution lifecycle (config.py:209-218 — a Python
loop issuing one full mapInPandas scan PER RULE) with one Catalyst-planned
job per *explosion signature*:

1. Rules are grouped by the set of ``[*]`` array explosions their columns
   need (flat rules — the common case, and the only case for the graft's flat
   image+caption table — all share the base DataFrame: ONE group).
2. Each group's columns are flattened once, every rule compiles to
   ``(evaluated, passing)`` Column expressions, and ALL metrics are computed
   in a single ``df.agg(...)`` of conditional sums — map-side partial
   aggregation, whole-stage codegen, one shuffle of one tiny row.
   Uniqueness rules ride along as ``count``/``count_distinct`` aggregates in
   the same job.
3. Failing-record samples (≤10 distinct value tuples and ≤10 ids, only for
   rules that failed somewhere, matching rules/base.py:370-388) are collected
   afterwards in ONE windowed query over all groups: each failing row is
   exploded once per sampled rule it fails, deduplicated map-side, and
   ranked per rule by its value tuple and by its id under a WindowGroupLimit
   that keeps ≤10 rows per rule and partition before the rule-keyed
   exchange. Samples are the first distinct tuples and smallest distinct ids
   in that order, so they are deterministic. Uniqueness rules sample
   duplicated values with their own grouped query.

At 100 TB this means: one scan of the table per run (not N), parquet column
pruning down to the union of rule columns, and no Python in the hot path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from gchq_data_quality_spark.globals import SampleConfig
from gchq_data_quality_spark.operators.base import BaseRule, CompiledRule
from gchq_data_quality_spark.plans.flatten import explosion_signature, flatten, split_notation
from gchq_data_quality_spark.results import (
    DataQualityResult,
    calculate_pass_rate,
)


def ensure_columns_exist(df: DataFrame, columns: list[str]) -> None:
    """Raise ValueError if any top-level parent column is missing
    (parity: rules/utils/rules_utils.py:40-54)."""
    parents = {split_notation(c.split(".")[0])[0] for c in columns}
    missing = sorted(parents - set(df.columns))
    if missing:
        raise ValueError(
            f"Field(s) {missing} not found in DataFrame columns: {df.columns}"
        )


@dataclass
class RuleMetrics:
    rule: BaseRule
    records_evaluated: int
    records_passing: int
    pass_rate: float | None
    records_failed_sample: list[dict] | None = None
    records_failed_ids: list | None = None

    def to_result(self) -> DataQualityResult:
        result = DataQualityResult(
            field=self.rule.field,
            data_quality_dimension=self.rule.data_quality_dimension,
            records_evaluated=self.records_evaluated,
            pass_rate=self.pass_rate,
            rule_id=self.rule.rule_id,
            rule_description=self.rule.rule_description,
            rule_data=self.rule.to_json(),
            records_failed_ids=self.records_failed_ids,
        )
        result._set_records_failed_sample(self.records_failed_sample)
        return result


def _needs_sample(pass_rate: float | None) -> bool:
    """Samples only when something failed (parity: rules/base.py:370-388)."""
    return pass_rate is not None and pass_rate != 1.0


def _duplicate_sample(flat_df: DataFrame, compiled: CompiledRule) -> list[dict]:
    """Duplicated values of a uniqueness rule (parity: rules/uniqueness.py:151-162)."""
    field = compiled.rule.field
    dupes = (
        flat_df.select(compiled.prepared[field].alias(field))
        .filter(F.col(field).isNotNull())
        .groupBy(field)
        .count()
        .filter(F.col("count") > 1)
        .limit(SampleConfig.RECORDS_FAILED_SAMPLE_SIZE)
        .collect()
    )
    return [{field: row[field]} for row in dupes]


_RULE, _KIND, _RANK = "__dq_rule", "__dq_kind", "__dq_rank"


def _collect_samples(
    views: list[tuple[DataFrame, list[CompiledRule]]], id_col: str | None
) -> list[tuple[list[dict], list | None]]:
    """Failing samples and ids of every sampled row rule, in one query.

    Each row is exploded into one row per rule it fails (``__dq_kind`` 0,
    column ``__dq_v{p}`` = rule ``p``'s prepared values as one positional
    struct) and, with ``id_col``, one more per rule carrying the id
    (``__dq_kind`` 1). Dropping duplicates aggregates map-side, so a tuple or
    id crosses the first exchange at most once per partition. ``row_number()
    <= limit`` over (rule, kind), ordered by the tuple and the id, then
    infers a WindowGroupLimit: at most ``limit`` rows per rule, kind and
    partition cross the second exchange. Samples are the first distinct
    tuples and the smallest distinct ids. Projections, window and filter are
    SQL text: each Column operator costs ~10 py4j round trips.
    """
    limit = SampleConfig.RECORDS_FAILED_SAMPLE_SIZE
    ident = ["`" + id_col.replace("`", "``") + "`"] if id_col else []
    kinds = (0, 1) if id_col else (0,)
    rules: list[CompiledRule] = []
    parts = []
    for flat_df, compiled in views:
        first = len(rules)
        rules += compiled
        ps = range(first, len(rules))
        codes = ", ".join(
            f"IF(__dq_e{p} AND NOT coalesce(__dq_p{p}, FALSE), "
            f"named_struct('{_RULE}', {p}, '{_KIND}', {k}), NULL)"
            for p in ps for k in kinds
        )
        parts.append(
            flat_df.select(
                *ident,
                *[cr.evaluated.alias(f"__dq_e{p}") for p, cr in zip(ps, compiled, strict=True)],
                *[cr.passing.alias(f"__dq_p{p}") for p, cr in zip(ps, compiled, strict=True)],
                *[
                    F.struct(*[cr.prepared[c] for c in cr.columns_used]).alias(f"__dq_s{p}")
                    for p, cr in zip(ps, compiled, strict=True)
                ],
            )
            .selectExpr("*", f"inline(array_compact(array({codes})))")
            .selectExpr(
                _RULE,
                _KIND,
                *[f"IF({_KIND} = 0 AND {_RULE} = {p}, __dq_s{p}, NULL) AS __dq_v{p}" for p in ps],
                *[f"IF({_KIND} = 1, {i}, NULL) AS {i}" for i in ident],
            )
        )
    union = parts[0]
    for part in parts[1:]:
        union = union.unionByName(part, allowMissingColumns=True)
    order = ", ".join([f"__dq_v{p}" for p in range(len(rules))] + ident)
    rows = (
        union.dropDuplicates()
        .selectExpr(
            "*", f"row_number() OVER (PARTITION BY {_RULE}, {_KIND} ORDER BY {order}) AS {_RANK}"
        )
        .filter(f"{_RANK} <= {limit}")
        .collect()
    )

    samples: list[list[dict]] = [[] for _ in rules]
    failed_ids: list[list] = [[] for _ in rules]
    for row in sorted(rows, key=lambda r: r[_RANK]):
        p = row[_RULE]
        if row[_KIND]:
            failed_ids[p].append(row[id_col])
        else:
            named = Row(*rules[p].columns_used)(*row[f"__dq_v{p}"])
            samples[p].append(named.asDict(recursive=True))
    return [
        (s, d if id_col else None) for s, d in zip(samples, failed_ids, strict=True)
    ]


def compute_metrics(
    df: DataFrame,
    rules: list[BaseRule],
    collect_samples: bool = True,
    row_id_col: str | None = None,
) -> list[RuleMetrics]:
    """Evaluate all rules; one aggregation job per explosion signature.

    ``row_id_col``: optional stable id column — when given, failing-record ids
    are that column's values (the reference's positional indices are dropped
    as unreliable in Spark, spark/utils/results_utils.py:56; stable ids are
    the deterministic replacement).
    """
    for rule in rules:
        ensure_columns_exist(df, rule.columns_used())

    # group rule indices by the explosions their columns require
    groups: dict[frozenset, list[int]] = {}
    for i, rule in enumerate(rules):
        groups.setdefault(explosion_signature(rule.columns_used()), []).append(i)

    keep = [row_id_col] if row_id_col and row_id_col in df.columns else []
    metrics: dict[int, RuleMetrics] = {}
    to_sample: list[RuleMetrics] = []
    views: list[tuple[DataFrame, list[CompiledRule]]] = []
    for indices in groups.values():
        group_rules = [rules[i] for i in indices]
        group_cols = sorted({c for r in group_rules for c in r.columns_used()})
        flat_df, mapping = flatten(df, group_cols, keep_cols=keep)
        dtypes = {f.name: f.dataType for f in flat_df.schema.fields}

        def resolver(name: str, _m=mapping):
            return F.col(_m[name])

        def dtype_of(name: str, _m=mapping, _d=dtypes):
            return _d[_m[name]]

        compiled = [r.compile(resolver, dtype_of) for r in group_rules]

        agg_exprs = []
        for j, cr in enumerate(compiled):
            if cr.is_global:
                agg_exprs.append(cr.agg_evaluated.alias(f"e{j}"))
                agg_exprs.append(cr.agg_passing.alias(f"p{j}"))
            else:
                agg_exprs.append(
                    F.sum(cr.evaluated.cast("long")).alias(f"e{j}")
                )
                agg_exprs.append(
                    F.sum(cr.passing_filled().cast("long")).alias(f"p{j}")
                )
        row = flat_df.agg(*agg_exprs).collect()[0]

        sampled: list[CompiledRule] = []
        for j, (i, cr) in enumerate(zip(indices, compiled, strict=True)):
            evaluated = int(row[f"e{j}"] or 0)
            passing = int(row[f"p{j}"] or 0)
            pass_rate = calculate_pass_rate(passing, evaluated)
            m = RuleMetrics(cr.rule, evaluated, passing, pass_rate)
            if collect_samples and _needs_sample(pass_rate):
                if cr.is_global:
                    m.records_failed_sample = _duplicate_sample(flat_df, cr)
                else:
                    to_sample.append(m)
                    sampled.append(cr)
            metrics[i] = m
        if sampled:
            views.append((flat_df, sampled))
    if views:
        id_col = keep[0] if keep else None
        for m, (sample, ids) in zip(to_sample, _collect_samples(views, id_col), strict=True):
            m.records_failed_sample, m.records_failed_ids = sample, ids

    return [metrics[i] for i in range(len(rules))]


def evaluate_rules(
    df: DataFrame,
    rules: list[BaseRule],
    collect_samples: bool = True,
    row_id_col: str | None = None,
) -> list[DataQualityResult]:
    """compute_metrics + wrap each RuleMetrics as a DataQualityResult."""
    return [
        m.to_result()
        for m in compute_metrics(df, rules, collect_samples, row_id_col)
    ]


def annotate(
    df: DataFrame,
    rules: list[BaseRule],
    prefix: str = "dq_",
    order_by: str | None = None,
) -> DataFrame:
    """Add one boolean pass/fail column per rule, plus a ``{prefix}keep`` AND.

    Per-row semantics: a row "keeps" under a rule when it passes OR was not
    evaluated (skipped rows don't count against the record — same algebra the
    audit metrics use). Uniqueness rules need a window (first occurrence
    keeps); ``order_by`` names the stable tie-break column.

    This is the keep/drop combiner of the quality-filter pipeline; flat
    columns only (the graft table is flat — nested rules go through
    ``evaluate_rules``).
    """
    from gchq_data_quality_spark.operators.uniqueness import UniquenessRule

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    resolver = F.col
    dtype_of = dtypes.__getitem__

    keep_cols = []
    out = df
    for i, rule in enumerate(rules):
        name = f"{prefix}{rule.rule_id or f'rule_{i}'}"
        if isinstance(rule, UniquenessRule):
            if order_by is None:
                raise ValueError(
                    "annotate() with a UniquenessRule requires order_by= for a "
                    "deterministic first-occurrence mask"
                )
            passing = rule.row_passing_column(resolver, dtype_of, order_by)
            # evaluated must come from the same *prepared* column the passing
            # mask uses (na_values sentinels -> NULL), or sentinel rows count
            # as evaluated-but-failing here while the metric path skips them.
            evaluated = rule.compile(resolver, dtype_of).evaluated
            col = passing | ~evaluated
        else:
            cr = rule.compile(resolver, dtype_of)
            col = cr.passing_filled() | ~cr.evaluated
        out = out.withColumn(name, col)
        keep_cols.append(name)

    keep = F.lit(True)
    for name in keep_cols:
        keep = keep & F.col(name)
    return out.withColumn(f"{prefix}keep", keep)
