"""The workloads: inputs, one operation, its oracle and its check.

Every workload exposes the same surface to ``run.py``:

- ``build(root, seed, size)``: the per-seed cached input (``inputs.py``);
- ``oracle(meta)``: the expected results, computed without Spark and cached
  next to the input;
- ``op(spark, meta, i)``: one closed-loop operation through the package's
  public entry points;
- ``plain(result)``: the operation's result as plain picklable data, handed
  to the helper process that checks it;
- ``check(payload, oracle, meta)``: a list of problems (empty when correct);
- ``out_bytes(payload)``: the bytes the operation delivers;
- ``done(payload)``: removes what the operation wrote;
- ``wrap(tracer)``: span wrappers around the public functions it calls,
  named in ``spans``.

``build``, ``oracle``, ``check`` and ``out_bytes`` run in the helper process,
``op``, ``plain``, ``done`` and ``wrap`` in the driver.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import re
import shutil
import warnings
from datetime import datetime
from pathlib import Path

import inputs

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _cached_oracle(meta: dict, compute) -> dict:
    """The oracle is a pure function of the input: computed once per cached
    input and stored beside it."""
    path = Path(meta["dir"]) / "oracle.json"
    if path.exists():
        return json.loads(path.read_text())
    expected = compute()
    tmp = path.with_suffix(".partial")
    tmp.write_text(json.dumps(expected))
    tmp.replace(path)
    return expected


def _parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


# ---------------------------------------------------------------------------
class FilterJob:
    name = "filter_job"
    why = (
        "the deployable product: jobs/quality_filter_job.main end to end "
        "(Arrow scoring UDF, codegen'd text/scrub, checkpointed batch writes, "
        "audit); the only workload that writes"
    )
    # planning, job start-up and the write commits dominate an operation:
    # ~3-4 s at 1000 rows on 4 vCPUs, ~4-6 s at 5000
    size = 1000
    # The job's default flags but for the bucketing: 8 buckets in one
    # checkpointed batch. The default, 64 buckets in batches of 8, is eight
    # batches, and each pays an annotate, a write and a read-back job
    # whatever its size: ~14 s per operation at 1000 rows on 4 vCPUs, and
    # with the first operation's ~30 s past a run's time budget.
    flags = ["--n-buckets", "8", "--buckets-per-batch", "8"]
    spans = ["jobs.quality_filter_job.main", "jobs.quality_filter_job.train",
             "pipeline.annotate", "pipeline.audit",
             "sources.checkpoint.run_checkpointed", "sources.io.write_table"]

    def __init__(self, work: Path):
        self.work = work
        spec = importlib.util.spec_from_file_location(
            "quality_filter_job", ROOT / "jobs" / "quality_filter_job.py"
        )
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)

    def build(self, root: Path, seed: int, size: int) -> dict:
        return inputs.cached(root, self.name, seed, size, inputs.build_images)

    def oracle(self, meta: dict) -> dict:
        # the generator's own per-row labels ride in the input table
        return {"rows": meta["rows"]}

    def op(self, spark, meta: dict, i: int) -> Path:
        out = self.work / f"op-{i}"
        shutil.rmtree(out, ignore_errors=True)
        argv = [
            "--input", str(Path(meta["dir"]) / meta["file"]),
            "--output", str(out / "output"),
            "--audit", str(out / "audit"),
            "--manifest", str(out / "manifest.json"),
            "--no-resume", *self.flags,
        ]
        with contextlib.redirect_stdout(io.StringIO()):  # the job's summary line
            self.job.main(argv)
        return out

    def plain(self, out: Path) -> str:
        return str(out)

    def check(self, out: str, oracle: dict, meta: dict) -> list[str]:
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        out = Path(out)
        problems = []
        cols = ["keep", "lang", "caption_scrubbed", "expected_keep",
                "expected_lang", "expected_scrubbed"]
        t = pads.dataset(out / "output", format="parquet", partitioning="hive")
        rows = t.to_table(columns=cols).to_pylist()
        if len(rows) != oracle["rows"]:
            problems.append(f"output rows {len(rows)} != input rows {oracle['rows']}")
        tp = sum(r["keep"] and r["expected_keep"] for r in rows)
        fp = sum(r["keep"] and not r["expected_keep"] for r in rows)
        fn = sum(not r["keep"] and r["expected_keep"] for r in rows)
        f1 = 2 * tp / max(2 * tp + fp + fn, 1)
        if f1 < 0.99:
            problems.append(f"keep/drop F1 {f1:.4f} < 0.99")
        labelled = [r for r in rows if r["expected_lang"] is not None]
        acc = sum(r["lang"] == r["expected_lang"] for r in labelled) / max(len(labelled), 1)
        if acc < 0.99:
            problems.append(f"lang accuracy {acc:.4f} < 0.99")
        bad = sum(r["caption_scrubbed"] != r["expected_scrubbed"] for r in rows)
        if bad:
            problems.append(f"{bad} caption_scrubbed mismatches")
        audit = pq.read_table(out / "audit").to_pylist()
        kept = sum(bool(r["keep"]) for r in rows)
        for r in audit:
            if r["measurement_sample"] != f"kept={kept}/total={oracle['rows']}":
                problems.append(f"audit {r['rule_id']}: {r['measurement_sample']}")
        present = [r for r in audit if r["rule_id"] == "caption_present"]
        if not present or present[0]["records_evaluated"] != oracle["rows"]:
            problems.append("audit caption_present total != input rows")
        return problems

    def out_bytes(self, out: str) -> int:
        return _parquet_bytes(Path(out) / "output") + _parquet_bytes(Path(out) / "audit")

    def done(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def wrap(self, tracer) -> None:
        from gchq_data_quality_spark import pipeline
        from gchq_data_quality_spark.functions import langid, perplexity
        from gchq_data_quality_spark.sources import checkpoint, io as sio

        tracer.wrap(self.job, "main", "jobs.quality_filter_job.main")
        tracer.wrap(langid, "train_langid", "jobs.quality_filter_job.train")
        tracer.wrap(perplexity, "train_perplexity", "jobs.quality_filter_job.train")
        tracer.wrap(pipeline.QualityFilterPipeline, "annotate", "pipeline.annotate")
        tracer.wrap(pipeline.QualityFilterPipeline, "audit", "pipeline.audit")
        tracer.wrap(checkpoint, "run_checkpointed", "sources.checkpoint.run_checkpointed")
        tracer.wrap(sio, "write_table", "sources.io.write_table")


# ---------------------------------------------------------------------------
# per-rule mirrors: (view, evaluated, passing) in DuckDB SQL, and the same
# failing predicate over one sample row (dict keyed by the rule's columns)
TS_LO, TS_HI = datetime(2024, 1, 1), datetime(2024, 12, 31)
RULE_MIRRORS = {
    "event_type_present": ("events", "TRUE", "event_type IS NOT NULL",
                           lambda r: r["event_type"] is None),
    "event_type_present_strict": (
        "events", "TRUE", "event_type IS NOT NULL AND event_type <> 'error'",
        lambda r: r["event_type"] in (None, "error")),
    "event_id_unique": ("events", "event_id IS NOT NULL", None, None),
    "event_type_known": (
        "events", "event_type IS NOT NULL", "event_type IN ('click', 'view', 'purchase')",
        lambda r: r["event_type"] is not None
        and r["event_type"] not in ("click", "view", "purchase")),
    "event_type_shape": (
        "events", "event_type IS NOT NULL", "regexp_matches(event_type, '^(?:[a-z]+)')",
        lambda r: r["event_type"] is not None and not re.match("[a-z]+", r["event_type"])),
    "value_range": (
        "events", "value IS NOT NULL", "value BETWEEN 0 AND 500",
        lambda r: r["value"] is not None and not 0 <= r["value"] <= 500),
    "purchases_have_value": (
        "events", "event_type = 'purchase'", "value > 0",
        lambda r: r["event_type"] == "purchase"
        and not (r["value"] is not None and r["value"] > 0)),
    "ts_in_2024": (
        "events", "ts IS NOT NULL",
        "ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-12-31'",
        lambda r: r["ts"] is not None and not TS_LO <= r["ts"] <= TS_HI),
    "item_qty_range": (
        "items_x", "qty IS NOT NULL", "qty BETWEEN 1 AND 20",
        lambda r: r["items[*].qty"] is not None and not 1 <= r["items[*].qty"] <= 20),
    "item_sku_shape": (
        "items_x", "sku IS NOT NULL", "regexp_matches(sku, '^(?:SKU-[0-9]{4})')",
        lambda r: r["items[*].sku"] is not None
        and not re.match("SKU-[0-9]{4}", r["items[*].sku"])),
}


class RulesAudit:
    name = "rules_audit"
    why = (
        "the reference's own use: YAML rules -> one aggregate per explosion "
        "signature plus failing samples; read-only and UDF-free, so it "
        "isolates Column construction and the engine's job count"
    )
    # ~32 Spark jobs per operation: ~2.5-4 s at 20k rows on 4 vCPUs, ~4.5-6 s
    # at 100k
    size = 20_000
    spans = ["config.from_yaml", "config.execute", "engine.compute_metrics",
             "operators.compile", "plans.flatten"]
    rules = [ROOT / "examples" / "rules.yaml", HERE / "audit_rules.yaml"]
    regex = ROOT / "examples" / "regex_patterns.yaml"

    def __init__(self, work: Path):
        self.work = work
        self._con = None

    def build(self, root: Path, seed: int, size: int) -> dict:
        return inputs.cached(root, self.name, seed, size, inputs.build_events)

    def _tables(self, meta: dict):
        """The input and its exploded items, loaded into DuckDB once: the
        oracle and every operation's sample checks query them."""
        if self._con is None:
            con = _duckdb()
            path = Path(meta["dir"]) / meta["file"]
            con.execute(f"CREATE TABLE events AS SELECT * FROM read_parquet('{path}')")
            con.execute(
                "CREATE TABLE items_x AS SELECT event_id, it.sku AS sku, it.qty AS qty "
                "FROM (SELECT event_id, UNNEST(CASE WHEN items IS NULL OR len(items) = 0 "
                "THEN [NULL]::STRUCT(sku VARCHAR, qty INTEGER)[] ELSE items END) AS it "
                "FROM events)"
            )
            self._con = con
        return self._con

    def oracle(self, meta: dict) -> dict:
        con = self._tables(meta)

        def compute():
            expected = {}
            for rule_id, (view, evaluated, passing, _) in RULE_MIRRORS.items():
                if passing is None:  # uniqueness: distinct non-null values pass
                    sql = f"SELECT COUNT(event_id), COUNT(DISTINCT event_id) FROM {view}"
                else:
                    sql = (f"SELECT COUNT(*) FILTER ({evaluated}), "
                           f"COUNT(*) FILTER (({evaluated}) AND ({passing})) FROM {view}")
                expected[rule_id] = list(con.execute(sql).fetchone())
            return expected

        return _cached_oracle(meta, compute)

    def op(self, spark, meta: dict, i: int):
        from gchq_data_quality_spark import DataQualityConfig

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # "multiple configuration files"
            config = DataQualityConfig.from_yaml(self.rules, regex_yaml_path=self.regex)
        df = spark.read.parquet(str(Path(meta["dir"]) / meta["file"]))
        return config.execute(df, collect_samples=True, row_id_col="event_id")

    def plain(self, report) -> dict:
        return {
            "results": [r.model_dump(include={
                "rule_id", "records_evaluated", "pass_rate",
                "records_failed_sample", "records_failed_ids"}) for r in report.results],
            "json_bytes": len(report.model_dump_json().encode()),
        }

    def check(self, report: dict, oracle: dict, meta: dict) -> list[str]:
        self._tables(meta)
        problems = []
        got = {r["rule_id"]: r for r in report["results"]}
        if set(got) != set(oracle):
            return [f"rule ids {sorted(got)} != {sorted(oracle)}"]
        for rule_id, (evaluated, passing) in oracle.items():
            r = got[rule_id]
            rate = passing / evaluated if evaluated else None
            if r["records_evaluated"] != evaluated or r["pass_rate"] != rate:
                problems.append(
                    f"{rule_id}: evaluated/pass_rate {r['records_evaluated']}/{r['pass_rate']}"
                    f" != {evaluated}/{rate}"
                )
            problems += self._check_sample(rule_id, r, rate)
        return problems

    def _check_sample(self, rule_id: str, r: dict, rate) -> list[str]:
        view, evaluated, passing, fails = RULE_MIRRORS[rule_id]
        sample = r["records_failed_sample"] or []
        ids = r["records_failed_ids"] or []
        if rate is not None and rate < 1 and not sample:
            return [f"{rule_id}: no failing sample"]
        if len(sample) > 10 or len(ids) > 10:
            return [f"{rule_id}: sample of {len(sample)} rows / {len(ids)} ids > 10"]
        if passing is None:  # uniqueness samples duplicated values
            values = [row["event_id"] for row in sample]
            n = self._con.execute(
                "SELECT COUNT(*) FROM (SELECT event_id FROM events "
                "WHERE event_id IN (SELECT UNNEST(?)) GROUP BY event_id "
                "HAVING COUNT(*) > 1)", [values]).fetchone()[0]
            return [] if n == len(set(values)) else [f"{rule_id}: sample has unique values"]
        problems = [f"{rule_id}: sample row passes: {row}" for row in sample if not fails(row)]
        if ids:
            n = self._con.execute(
                f"SELECT COUNT(DISTINCT event_id) FROM {view} WHERE event_id IN "
                f"(SELECT UNNEST(?)) AND ({evaluated}) AND NOT coalesce({passing}, FALSE)",
                [ids]).fetchone()[0]
            if n != len(set(ids)):
                problems.append(f"{rule_id}: {len(set(ids)) - n} failed ids pass the rule")
        return problems

    def out_bytes(self, report: dict) -> int:
        return report["json_bytes"]

    def done(self, report: dict) -> None:
        pass

    def wrap(self, tracer) -> None:
        from gchq_data_quality_spark import config, engine
        from gchq_data_quality_spark.operators import base, uniqueness
        from gchq_data_quality_spark.plans import flatten

        tracer.wrap(config.DataQualityConfig, "from_yaml", "config.from_yaml")
        tracer.wrap(config.DataQualityConfig, "execute", "config.execute")
        tracer.wrap(engine, "compute_metrics", "engine.compute_metrics")
        tracer.wrap(base.BaseRule, "compile", "operators.compile")
        tracer.wrap(uniqueness.UniquenessRule, "compile", "operators.compile")
        # engine binds flatten at import; wrap the name it calls
        tracer.wrap(engine, "flatten", "plans.flatten")
        tracer.wrap(flatten, "flatten", "plans.flatten")


# ---------------------------------------------------------------------------
class NeardupDedup:
    name = "neardup_dedup"
    why = (
        "near-duplicate detection: minhash bands shuffled x8 with the "
        "shingle arrays, the mapInArrow shingle crossing and connected "
        "components; never touches the rules engine and never writes"
    )
    # ~2.7-3.7 s at 400 documents on 4 vCPUs, ~5-6 s at 1000
    size = 400
    # the two oracle-backed dedup leaves of __spark_entry__.queries()
    leaves = ["lsh_verified_pairs", "dedup_cluster_sizes"]
    spans = ["functions.dedup.ngram_jaccard_pairs",
             "functions.relational.connected_components"] + [
        f"{leaf}.{part}" for leaf in leaves for part in ("build", "collect")]

    def __init__(self, work: Path):
        self.work = work
        spec = importlib.util.spec_from_file_location("__spark_entry__", ROOT / "__spark_entry__.py")
        self.entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.entry)
        self.tracer_call = lambda name, fn, *args: fn(*args)

    def build(self, root: Path, seed: int, size: int) -> dict:
        return inputs.cached(root, self.name, seed, size, inputs.build_documents)

    def oracle(self, meta: dict) -> dict:
        def compute():
            con = _duckdb()
            path = Path(meta["dir"]) / meta["file"]
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            sql = self.entry.oracle_sql()
            return {leaf: con.execute(sql[leaf]).fetchall() for leaf in self.leaves}

        return _cached_oracle(meta, compute)

    def op(self, spark, meta: dict, i: int) -> dict:
        queries = self.entry.queries()
        result = {}
        for leaf in self.leaves:
            df = self.tracer_call(f"{leaf}.build", queries[leaf], spark, meta["dir"])
            result[leaf] = self.tracer_call(f"{leaf}.collect", df.collect)
        return result

    def plain(self, result: dict) -> dict:
        return {leaf: [tuple(row) for row in rows] for leaf, rows in result.items()}

    def check(self, result: dict, oracle: dict, meta: dict) -> list[str]:
        return [
            f"{leaf}: {len(result[leaf])} rows differ from the oracle's {len(oracle[leaf])}"
            for leaf in self.leaves
            if not _rows_equal(result[leaf], oracle[leaf])
        ]

    def out_bytes(self, result: dict) -> int:
        return len(json.dumps(result).encode())

    def done(self, result) -> None:
        pass

    def wrap(self, tracer) -> None:
        from gchq_data_quality_spark.functions import dedup, relational

        tracer.wrap(dedup, "ngram_jaccard_pairs", "functions.dedup.ngram_jaccard_pairs")
        tracer.wrap(relational, "connected_components",
                    "functions.relational.connected_components")
        self.tracer_call = tracer.call


def _rows_equal(got: list, want: list) -> bool:
    got, want = sorted(map(tuple, got)), sorted(map(tuple, want))
    if len(got) != len(want):
        return False
    for a, b in zip(got, want, strict=True):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b, strict=True):
            if isinstance(x, float) or isinstance(y, float):
                if abs(float(x) - float(y)) > 1e-9:
                    return False
            elif x != y:
                return False
    return True


WORKLOADS = {w.name: w for w in (FilterJob, RulesAudit, NeardupDedup)}
