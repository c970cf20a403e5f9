"""Failing-record samples: one windowed query per explosion signature.

The oracle is DuckDB over the same rows, written from the rules' documented
semantics (na_values -> NULL, NaN -> NULL, numeric coercion to double,
skip_if_null masks, explode_outer for ``[*]``), never from engine output.
For a row rule the sample is ``SELECT DISTINCT <prepared columns> WHERE
<failing> ORDER BY <columns> LIMIT 10`` and the ids are the 10 smallest
distinct failing ids (a record with several failing exploded elements is
listed once). Uniqueness rules sample duplicated values, in no particular order.
"""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from gchq_data_quality_spark.engine import compute_metrics
from gchq_data_quality_spark.operators import (
    CompletenessRule,
    ConsistencyRule,
    UniquenessRule,
    ValidityNumericalRangeRule,
    ValidityRegexRule,
)

SCHEMA = (
    "id long, a long, b string, c double, z long, "
    "items array<struct<sku:string, qty:int>>"
)


def _rows(n: int = 120) -> list[tuple]:
    rng = random.Random(11)
    rows = []
    for i in rng.sample(range(1000), n):  # ids out of insertion order
        a = None if rng.random() < 0.15 else rng.randint(-3, 8)
        b = rng.choice(["x", "y", "z", "n/a", None, "w", "v"])
        c = rng.choice([None, math.nan, 0.5, 2.5, 4.0, rng.uniform(-5, 10)])
        kind = rng.random()
        if kind < 0.1:
            items = None
        elif kind < 0.2:
            items = []
        else:
            items = [
                (rng.choice(["SKU-%04d" % rng.randint(0, 30), "bad%d" % rng.randint(0, 4), None]),
                 rng.choice([None, rng.randint(-2, 25)]))
                for _ in range(rng.randint(1, 3))
            ]
        rows.append((i, a, b, c, None, items))
    return rows


@pytest.fixture(scope="module")
def data(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, SCHEMA)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id BIGINT, a BIGINT, b VARCHAR, c DOUBLE, z BIGINT, "
        "items STRUCT(sku VARCHAR, qty INTEGER)[])"
    )
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)",
        [(i, a, b, c, z, None if items is None else [{"sku": s, "qty": q} for s, q in items])
         for i, a, b, c, z, items in rows],
    )
    # explode_outer: a NULL or empty array keeps its row with a NULL element
    con.execute(
        "CREATE VIEW items_x AS SELECT id, it.sku AS sku, it.qty AS qty FROM "
        "(SELECT id, UNNEST(CASE WHEN items IS NULL OR len(items) = 0 "
        "THEN [NULL]::STRUCT(sku VARCHAR, qty INTEGER)[] ELSE items END) AS it FROM t)"
    )
    yield df, con
    con.close()


# prepared columns in DuckDB: NaN -> NULL, numeric coercion to double
A = "CAST(a AS DOUBLE)"
C = "CASE WHEN isnan(c) THEN NULL ELSE c END"
B_NA = "CASE WHEN b = 'n/a' THEN NULL ELSE b END"
QTY = "CAST(qty AS DOUBLE)"

# rule -> (view, {column: prepared SQL}, failing predicate over prepared columns)
ROW_RULES = [
    (CompletenessRule(field="b", na_values=["n/a"], rule_id="b_present"),
     "t", {"b": B_NA}, "b IS NULL"),
    (ValidityNumericalRangeRule(field="a", min_value=0, max_value=3, rule_id="a_range"),
     "t", {"a": A}, "a IS NOT NULL AND NOT (a BETWEEN 0 AND 3)"),
    (ConsistencyRule(field="a", expression="`a` < `c`", skip_if_null="any", rule_id="a_lt_c_any"),
     "t", {"a": "a", "c": C},
     "a IS NOT NULL AND c IS NOT NULL AND NOT coalesce(a < c, FALSE)"),
    (ConsistencyRule(field="a", expression="`a` < `c`", skip_if_null="all", rule_id="a_lt_c_all"),
     "t", {"a": "a", "c": C},
     "NOT (a IS NULL AND c IS NULL) AND NOT coalesce(a < c, FALSE)"),
    (ConsistencyRule(field="a", expression="`a` < `c`", skip_if_null="never", rule_id="a_lt_c_never"),
     "t", {"a": "a", "c": C}, "NOT coalesce(a < c, FALSE)"),
    (ValidityNumericalRangeRule(field="items[*].qty", min_value=1, max_value=20,
                                rule_id="qty_range"),
     "items_x", {"items[*].qty": QTY},
     '"items[*].qty" IS NOT NULL AND NOT ("items[*].qty" BETWEEN 1 AND 20)'),
    (ValidityRegexRule(field="items[*].sku", regex_pattern="SKU-[0-9]{4}",
                       rule_id="sku_shape"),
     "items_x", {"items[*].sku": "sku"},
     """"items[*].sku" IS NOT NULL AND NOT regexp_matches("items[*].sku", '^(?:SKU-[0-9]{4})')"""),
]
ALWAYS_PASSES = ValidityNumericalRangeRule(
    field="a", min_value=-100, max_value=100, rule_id="a_wide")
NOTHING_EVALUATED = ValidityNumericalRangeRule(field="z", min_value=0, rule_id="z_range")
UNIQUE_B = UniquenessRule(field="b", rule_id="b_unique")


def _oracle(con, view: str, prepared: dict[str, str], failing: str):
    select = ", ".join(f'{sql} AS "{name}"' for name, sql in prepared.items())
    base = f"SELECT id, {select} FROM {view}"
    cols = ", ".join(f'"{name}"' for name in prepared)
    order = ", ".join(f'"{name}" ASC NULLS FIRST' for name in prepared)
    cur = con.execute(
        f"SELECT DISTINCT {cols} FROM ({base}) WHERE {failing} ORDER BY {order} LIMIT 10")
    names = [d[0] for d in cur.description]
    sample = [dict(zip(names, row, strict=True)) for row in cur.fetchall()]
    ids = [r[0] for r in con.execute(
        f"SELECT DISTINCT id FROM ({base}) WHERE {failing} ORDER BY id NULLS FIRST LIMIT 10"
    ).fetchall()]
    return sample, ids


def test_row_rule_samples_match_duckdb(data):
    df, con = data
    rules = [r for r, *_ in ROW_RULES] + [ALWAYS_PASSES, NOTHING_EVALUATED, UNIQUE_B]
    metrics = compute_metrics(df, rules, row_id_col="id")

    for m, (rule, view, prepared, failing) in zip(metrics, ROW_RULES, strict=False):
        assert 0 < m.pass_rate < 1, rule.rule_id
        sample, ids = _oracle(con, view, prepared, failing)
        assert m.records_failed_sample == sample, rule.rule_id
        assert m.records_failed_ids == ids, rule.rule_id
        assert len(sample) <= 10 and len(ids) <= 10

    wide, z, unique = metrics[len(ROW_RULES):]
    assert wide.pass_rate == 1.0
    assert wide.records_failed_sample is None and wide.records_failed_ids is None
    assert z.pass_rate is None
    assert z.records_failed_sample is None and z.records_failed_ids is None

    dupes = {r[0] for r in con.execute(
        "SELECT b FROM t WHERE b IS NOT NULL GROUP BY b HAVING COUNT(*) > 1").fetchall()}
    assert unique.records_failed_ids is None
    assert {row["b"] for row in unique.records_failed_sample} == dupes


def test_samples_without_row_id_col(data):
    df, con = data
    rules = [r for r, *_ in ROW_RULES]
    for m, (rule, view, prepared, failing) in zip(
        compute_metrics(df, rules), ROW_RULES, strict=True
    ):
        assert m.records_failed_ids is None, rule.rule_id
        assert m.records_failed_sample == _oracle(con, view, prepared, failing)[0]


def _jobs(spark, group: str, df, rules, **kwargs) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        compute_metrics(df, rules, row_id_col="id", **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sampling_job_count_does_not_grow_with_failing_rules(spark, data):
    """One signature: 2 and 6 failing row rules run the same Spark jobs, and
    collect_samples=False runs only the metric jobs."""
    df, _ = data
    ranges = [ValidityNumericalRangeRule(field="a", min_value=lo, max_value=lo + 2)
              for lo in range(6)]
    assert all(0 < m.pass_rate < 1 for m in compute_metrics(df, ranges, collect_samples=False))
    two = _jobs(spark, "dq-two", df, ranges[:2])
    six = _jobs(spark, "dq-six", df, ranges)
    assert two == six
    metrics_only = _jobs(spark, "dq-off", df, ranges, collect_samples=False)
    all_pass = _jobs(spark, "dq-pass", df, [ALWAYS_PASSES] * 6)
    assert metrics_only == all_pass < six


def test_sample_query_bounds_rows_per_rule_before_the_exchange(data, monkeypatch):
    """The rule-keyed exchange carries at most 10 rows per rule, kind and map
    partition (its child is a partial WindowGroupLimit), and the failing rows
    are deduplicated map-side below it; one query serves both signatures."""
    df, _ = data
    cls = type(df)
    collect = cls.collect
    plans = []

    def spy(self):
        if "__dq_rule" in self.columns:
            plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    compute_metrics(df, [r for r, *_ in ROW_RULES], row_id_col="id")
    assert len(plans) == 1
    lines = [line.lstrip(" :+-") for line in plans[0].splitlines()]
    exchanges = [k for k, line in enumerate(lines) if line.startswith("Exchange")]
    assert len(exchanges) == 2, plans[0]
    by_rule, dedup = exchanges
    assert lines[by_rule].startswith("Exchange hashpartitioning(__dq_rule#"), plans[0]
    assert lines[by_rule + 1].startswith("WindowGroupLimit"), plans[0]
    assert lines[by_rule + 1].endswith("Partial"), plans[0]
    assert lines[dedup + 1].startswith("HashAggregate"), plans[0]
