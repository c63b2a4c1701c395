"""The four workloads.  Each drives the library's public API the way a user
does and materializes every result with a collect or a write.

A workload's ``load`` is set-up (timed as part of ``setup_s``), ``prepare``
runs untimed before each operation, ``op`` is the timed operation, and
``verify`` checks its output outside the timed region.  ``isolated`` runs
only in traced runs: one extra materialization per check, so per-check busy
time exists even where the operation fuses checks into shared actions.
"""

from __future__ import annotations

import functools
import os
import shutil
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import functions as F

from . import inputs, oracles
from .oracles import PROFILE_PART

# validate.py's drift configuration
DRIFT_EDGES = [0.0, 16, 32, 48, 64, 80, 96, 112, 128, 160, 256, 1024, 4096]
METRIC_COLUMNS = ["image_id", "w", "h", "fmt", "caption", "phash"]
CHECK_NAMES = [
    "required_not_null", "value_domain", "payload_invariants", "distribution_drift",
    "quantile_drift", "unique__image_id", "unique__phash",
]
UNIQUE_KEYS = ("image_id", "phash")
RUN_ID = "bench"


@dataclass
class OpResult:
    out_dirs: list[str]
    data: object = None  # results the operation collected


def noop_write(df) -> None:
    """Materialize every column and row without keeping the output."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(paths: list[str]) -> tuple[int, int]:
    """(bytes, data files) under the given directories."""
    total = files = 0
    for p in paths:
        for root, _, names in os.walk(p):
            for n in names:
                if not n.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(root, n))
                    files += 1
    return total, files


class Workload:
    name = ""
    # writes to an audit store; columns a global uniqueness check scans
    audit = False
    unique_keys: tuple = ()

    def __init__(self, spark, work: str, cache: str, seed: int):
        import duckdb

        self.spark, self.work, self.cache, self.seed = spark, work, cache, seed
        self.rows_in_scope = 0
        self.expected = None
        # reads inputs at set-up and outputs for checking, without Spark
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def build(self) -> None:
        """Seed-independent inputs, cached per checkout."""

    def load(self) -> None:
        """Set-up a user pays on every run: read inputs, build the checks."""
        raise NotImplementedError

    def stage(self) -> None:
        """Untimed set-up that simulates history, once per run."""

    def prepare(self, i: int) -> None:
        pass

    def outputs(self, i: int) -> list[str]:
        """Directories operation ``i`` writes to."""
        raise NotImplementedError

    def op(self, tr, i: int) -> OpResult:
        raise NotImplementedError

    def verify(self, res: OpResult) -> list[str]:
        raise NotImplementedError

    def isolated(self, tr) -> None:
        pass

    def read(self, path: str) -> list[dict]:
        """Rows of a parquet file or directory written by an operation."""
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        cur = self.con.execute(f"SELECT * FROM read_parquet('{src}')")
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# validation runs (validate.py semantics)
# ---------------------------------------------------------------------------


def traced_store(tr):
    """AuditStore whose calls open spans; the library sees a plain store."""
    from neontology_spark.audit import AuditStore

    class TracedStore(AuditStore):
        def append(self, stream, df):
            with tr.span(f"audit.append.{stream}"):
                super().append(stream, df)

        def completed_parts(self, run_id, label):
            with tr.span("audit.lineage"):
                return super().completed_parts(run_id, label)

        def mark_completed(self, run_id, label, parts):
            with tr.span("audit.lineage"):
                super().mark_completed(run_id, label, parts)

    return TracedStore


class _Validate(Workload):
    audit = True
    unique_keys = UNIQUE_KEYS
    table_rows = inputs.N_IMAGES

    def build(self) -> None:
        self.table_path, self.baseline_path = inputs.image_tables(self.spark, self.cache)

    def load(self) -> None:
        from neontology_spark.checks import check_domain, check_required, check_unique, column_stats
        from neontology_spark.checks.base import CheckResult
        from neontology_spark.checks.drift import (
            check_drift,
            check_quantile_drift,
            drift_metrics,
            numeric_histogram,
            quantile_drift,
        )
        from neontology_spark.images import check_payload, image_model

        self.table = self.spark.read.parquet(self.table_path)
        baseline = self.spark.read.parquet(self.baseline_path)
        model = image_model()
        base_hist = numeric_histogram(baseline, "w", DRIFT_EDGES)
        self.required = functools.partial(check_required, model=model, part_col="part")
        self.domain = functools.partial(check_domain, model=model, part_col="part")
        self.payload = lambda df: CheckResult("payload_invariants", "Image", check_payload(df))
        self.histogram = lambda df: check_drift(
            drift_metrics(base_hist, numeric_histogram(df, "w", DRIFT_EDGES, part_col="part")),
            label="Image",
        )
        self.qdrift = lambda df: check_quantile_drift(
            quantile_drift(baseline, df, ["w", "h"], part_col="part"), label="Image"
        )
        self.global_checks = [
            functools.partial(check_unique, model=model, part_col="part"),
            functools.partial(
                check_unique, model=model, column="phash", part_col="part",
                salted=True, check_name="unique__phash",
            ),
        ]
        self.metrics_fn = lambda df: column_stats(df, columns=METRIC_COLUMNS, part_col="part")

    def validation_run(self, table, store):
        from neontology_spark.audit import ValidationRun

        return ValidationRun(
            spark=self.spark,
            table=table,
            label="Image",
            part_col="part",
            checks=[self.required, self.domain, self.payload, self.histogram, self.qdrift],
            global_checks=self.global_checks,
            store=store,
            run_id=RUN_ID,
            metrics_fn=self.metrics_fn,
        )

    def outputs(self, i: int) -> list[str]:
        return [os.path.join(self.work, f"audit_{i}")]

    def _run(self, tr, i: int, resume: bool) -> OpResult:
        (audit,) = self.outputs(i)
        run = self.validation_run(self.table, traced_store(tr)(self.spark, audit))
        with tr.span("audit.run"):
            verdicts = run.run(resume=resume)
        with tr.span("audit.verdicts_collect"):
            rows = verdicts.collect()
        return OpResult([audit], rows)

    def _check(self, res: OpResult, pending: set[int], before: Counter) -> list[str]:
        expected = oracles.planted_violations(inputs.N_IMAGES, pending)
        rows = self.read(os.path.join(res.out_dirs[0], "violations"))
        got = Counter(oracles.normalize_violation(r) for r in rows) - before
        errors = []
        if got != expected:
            errors.append(f"violations: missing {dict(expected - got)}, unexpected {dict(got - expected)}")
        want = oracles.expected_verdicts(expected, pending, CHECK_NAMES)
        have = {(r["part"], r["check"]): (r["n_violations"], r["passed"]) for r in res.data}
        if len(res.data) != len(have) or set(have) != set(want):
            errors.append(f"verdict rows: got {sorted(have)}, want {sorted(want)}")
        else:
            bad = {k: v for k, v in have.items() if v != (want[k], want[k] == 0)}
            if bad:
                errors.append(f"verdict counts wrong: {bad}")
        shutil.rmtree(res.out_dirs[0], ignore_errors=True)
        return errors

    def _isolated(self, tr, scoped) -> None:
        for name, check in (
            ("checks.core.required", self.required),
            ("checks.core.domain", self.domain),
            ("images.payload", self.payload),
            ("checks.drift.histogram", self.histogram),
            ("checks.drift.quantile_drift", self.qdrift),
        ):
            with tr.span(name):
                noop_write(check(scoped).violations)
        with tr.span("checks.core.unique"):
            for check in self.global_checks:
                noop_write(check(self.table).violations)
        with tr.span("checks.stats.column_stats"):
            noop_write(self.metrics_fn(scoped))


class ValidateFresh(_Validate):
    """ValidationRun.run(resume=False) into a fresh audit store, then the
    verdict collect validate.py does."""

    name = "validate_fresh"

    def load(self) -> None:
        super().load()
        self.rows_in_scope = inputs.N_IMAGES

    def op(self, tr, i: int) -> OpResult:
        return self._run(tr, i, resume=False)

    def verify(self, res: OpResult) -> list[str]:
        return self._check(res, set(range(inputs.N_IMAGE_PARTS)), Counter())

    def isolated(self, tr) -> None:
        self._isolated(tr, self.table)


class ValidateResume(_Validate):
    """A real earlier run over 12 of the 16 partitions (set-up), then the
    timed resume after the last 4 land."""

    name = "validate_resume"

    def load(self) -> None:
        super().load()
        self.pending = set(inputs.resume_split(self.seed))
        self.rows_in_scope = inputs.N_IMAGES // inputs.N_IMAGE_PARTS * len(self.pending)

    def stage(self) -> None:
        from neontology_spark.audit import AuditStore

        self.template = os.path.join(self.work, "audit_template")
        shutil.rmtree(self.template, ignore_errors=True)
        landed = self.table.filter(~F.col("part").isin(sorted(self.pending)))
        self.validation_run(landed, AuditStore(self.spark, self.template)).run(resume=True)
        self.before = Counter(
            oracles.normalize_violation(r) for r in self.read(os.path.join(self.template, "violations"))
        )

    def prepare(self, i: int) -> None:
        (audit,) = self.outputs(i)
        shutil.rmtree(audit, ignore_errors=True)
        shutil.copytree(self.template, audit)

    def op(self, tr, i: int) -> OpResult:
        return self._run(tr, i, resume=True)

    def verify(self, res: OpResult) -> list[str]:
        return self._check(res, self.pending, self.before)

    def isolated(self, tr) -> None:
        self._isolated(tr, self.table.filter(F.col("part").isin(sorted(self.pending))))


# ---------------------------------------------------------------------------
# ingest: node upsert, edge merge, referential integrity, write
# ---------------------------------------------------------------------------


ORDER_TYPES = {
    "o_custkey": int, "o_orderstatus": str, "o_totalprice": "decimal(15,2)", "o_orderdate": "date",
    "o_orderpriority": str, "o_clerk": str, "o_shippriority": int, "o_comment": str,
}
EDGE_TYPES = {"l_quantity": "decimal(15,2)", "l_extendedprice": "decimal(15,2)", "l_shipmode": str, "l_comment": str}


class IngestMerge(Workload):
    """Upsert orders with all three merge policies, merge lineitem edges
    with merge_on, run unmatched/ambiguous RI, write both tables."""

    name = "ingest_merge"

    def build(self) -> None:
        self.src = inputs.tpch(self.cache)

    def load(self) -> None:
        from neontology_spark.models import MergePolicy, NodeModel, Property, RelationshipModel

        pol = {"always": MergePolicy.ALWAYS_SET, "create": MergePolicy.SET_ON_CREATE,
               "match": MergePolicy.SET_ON_MATCH}
        self.dir = os.path.join(self.work, "ingest_inputs")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        inputs.ingest_inputs(self.con, self.src, self.dir, self.seed)
        shutil.copy(os.path.join(self.src, "part.parquet"), self.dir)
        read = lambda n: self.spark.read.parquet(os.path.join(self.dir, f"{n}.parquet"))  # noqa: E731
        self.orders, self.batch = read("orders_existing"), read("orders_batch")
        self.edges, self.edge_batch, self.part = read("edges_existing"), read("edges_batch"), read("part")
        self.order_model = NodeModel(
            label="Order", primary_property="o_orderkey",
            properties=[Property("o_orderkey", int)] + [
                Property(c, ORDER_TYPES[c], policy=pol[p]) for c, p in oracles.ORDER_POLICIES.items()
            ],
        )
        self.edge_model = RelationshipModel(
            rel_type="CONTAINS", source_label="Order", target_label="Part",
            properties=[Property("l_linenumber", int, policy=MergePolicy.MERGE_ON)] + [
                Property(c, EDGE_TYPES[c], policy=pol[p]) for c, p in oracles.EDGE_POLICIES.items()
            ],
        )

    def merged_orders(self):
        from neontology_spark.upsert import merge_nodes

        return merge_nodes(self.orders, self.batch, self.order_model, order_col="row_id")

    def merged_edges(self, orders):
        from neontology_spark.relationships import resolve_and_merge_relationships

        return resolve_and_merge_relationships(
            self.edges, self.edge_batch, self.edge_model, source_nodes=orders,
            target_nodes=self.part, source_key="o_orderkey", target_key="p_partkey",
        )

    def outputs(self, i: int) -> list[str]:
        return [os.path.join(self.work, f"ingest_out_{i}")]

    def op(self, tr, i: int) -> OpResult:
        from neontology_spark.checks.referential import ambiguous_keys, unmatched_rows

        (out,) = self.outputs(i)
        orders = self.merged_orders()
        edges = self.merged_edges(orders)
        with tr.span("checks.referential.unmatched"):
            unmatched = unmatched_rows(self.edge_batch, orders, "source", "o_orderkey").collect()
        with tr.span("checks.referential.ambiguous"):
            ambiguous = ambiguous_keys(self.batch, "o_orderkey").collect()
        with tr.span("io.write"):
            orders.write.parquet(os.path.join(out, "orders"))
            edges.write.parquet(os.path.join(out, "edges"))
        return OpResult([out], {"unmatched": unmatched, "ambiguous": ambiguous})

    def verify(self, res: OpResult) -> list[str]:
        if self.expected is None:
            self.expected = oracles.ingest_expected(self.con, self.dir)
            self.rows_in_scope = self.expected["rows_in_scope"]
        exp, out = self.expected, res.out_dirs[0]
        errors = []
        order_cols = ["o_orderkey", *oracles.ORDER_POLICIES]
        edge_cols = ["source", "target", "l_linenumber", *oracles.EDGE_POLICIES]
        for name, cols in (("orders", order_cols), ("edges", edge_cols)):
            got = oracles.digest_parquet(self.con, os.path.join(out, name), cols)
            if got != exp[name]:
                errors.append(f"{name}: (rows, checksum) {got} != {exp[name]}")
        um = sorted((r["source"], r["target"], r["l_linenumber"]) for r in res.data["unmatched"])
        if um != exp["unmatched"]:
            errors.append(f"unmatched rows: {len(um)} != {len(exp['unmatched'])}")
        amb = {int(r["_amb_key"]): int(r["match_count"]) for r in res.data["ambiguous"]}
        if amb != exp["ambiguous"]:
            errors.append(f"ambiguous keys: {len(amb)} != {len(exp['ambiguous'])}")
        shutil.rmtree(out, ignore_errors=True)
        return errors

    def isolated(self, tr) -> None:
        with tr.span("upsert.merge"):
            noop_write(self.merged_orders())
        with tr.span("relationships.resolve_merge"):
            noop_write(self.merged_edges(self.merged_orders()))


# ---------------------------------------------------------------------------
# profiling: stats, exact quantiles, quantile drift, histogram drift
# ---------------------------------------------------------------------------

PROFILE_NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
PROFILE_CATEGORICAL = ["l_returnflag", "l_shipmode"]
PROFILE_PROBS = [0.1, 0.25, 0.5, 0.75, 0.9]
PROFILE_HIST = {
    "l_quantity": [float(x) for x in range(0, 55, 5)],
    "l_extendedprice": [float(x) for x in range(0, 110_000, 10_000)],
}


class ProfileDrift(Workload):
    """column_stats, exact numeric_quantiles, exact quantile_drift against a
    seeded baseline half, and numeric_histogram + drift_metrics, grouped by
    l_linenumber; each result written to parquet."""

    name = "profile_drift"

    def build(self) -> None:
        self.src = inputs.tpch(self.cache)

    def load(self) -> None:
        self.dir = os.path.join(self.work, "profile_inputs")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        inputs.baseline_half(self.con, self.src, self.dir, self.seed)
        self.lineitem = self.spark.read.parquet(os.path.join(self.src, "lineitem.parquet"))
        self.baseline = self.spark.read.parquet(os.path.join(self.dir, "baseline.parquet"))

    def outputs(self, i: int) -> list[str]:
        return [os.path.join(self.work, f"profile_out_{i}")]

    def op(self, tr, i: int) -> OpResult:
        from neontology_spark.checks.drift import drift_metrics, numeric_histogram, quantile_drift
        from neontology_spark.checks.stats import column_stats, numeric_quantiles

        (out,) = self.outputs(i)
        li, base = self.lineitem, self.baseline
        with tr.span("checks.stats.column_stats"):
            column_stats(
                li, columns=PROFILE_NUMERIC + PROFILE_CATEGORICAL, part_col=PROFILE_PART
            ).write.parquet(os.path.join(out, "stats"))
        with tr.span("checks.stats.quantiles"):
            numeric_quantiles(
                li, PROFILE_NUMERIC, probs=PROFILE_PROBS, part_col=PROFILE_PART, exact=True
            ).write.parquet(os.path.join(out, "quantiles"))
        with tr.span("checks.drift.quantile_drift"):
            quantile_drift(
                base, li, PROFILE_NUMERIC, probs=PROFILE_PROBS, part_col=PROFILE_PART, exact=True
            ).write.parquet(os.path.join(out, "quantile_drift"))
        with tr.span("checks.drift.histogram"):
            metrics = None
            for col, edges in PROFILE_HIST.items():
                m = drift_metrics(
                    numeric_histogram(base, col, edges),
                    numeric_histogram(li, col, edges, part_col=PROFILE_PART),
                )
                metrics = m if metrics is None else metrics.unionByName(m)
            metrics.write.parquet(os.path.join(out, "drift"))
        return OpResult([out])

    def verify(self, res: OpResult) -> list[str]:
        if self.expected is None:
            self.expected = oracles.profile_expected(
                self.con, os.path.join(self.src, "lineitem.parquet"),
                os.path.join(self.dir, "baseline.parquet"),
                PROFILE_NUMERIC, PROFILE_CATEGORICAL, PROFILE_PROBS, PROFILE_HIST,
            )
            self.rows_in_scope = self.expected["rows"]
        exp, out = self.expected, res.out_dirs[0]
        read = lambda n: self.read(os.path.join(out, n))  # noqa: E731
        errors = []
        stats = {(r["part"], r["column"]): r for r in read("stats")}
        if set(stats) != set(exp["stats"]):
            errors.append("column_stats: wrong (part, column) set")
        for k, (n, nulls, distinct, mn, mx) in exp["stats"].items():
            r = stats.get(k)
            # n_distinct is HyperLogLog++ (relative sd 5%): bound it at 4 sd
            if r is None or (r["n_rows"], r["n_nulls"], r["min_value"], r["max_value"]) != (n, nulls, mn, mx) \
                    or abs(r["n_distinct"] - distinct) > 0.2 * distinct + 1:
                errors.append(f"column_stats {k}: {r} vs {(n, nulls, distinct, mn, mx)}")
        q = {(r["part"], r["column"], r["prob"]): r["quantile"] for r in read("quantiles")}
        if set(q) != set(exp["quantiles"]) or not all(
            oracles.close(q[k], v) for k, v in exp["quantiles"].items()
        ):
            errors.append("numeric_quantiles differ from quantile_cont")
        qd = {(r["part"], r["column"], r["prob"]): (r["q_base"], r["q_cur"]) for r in read("quantile_drift")}
        want_qd = {
            k: (exp["q_base"][(k[1], k[2])], v) for k, v in exp["quantiles"].items()
        }
        if set(qd) != set(want_qd) or not all(
            oracles.close(qd[k][0], b) and oracles.close(qd[k][1], c) for k, (b, c) in want_qd.items()
        ):
            errors.append("quantile_drift differs from quantile_cont")
        dm = {(r["part"], r["column"]): (r["psi"], r["ks"]) for r in read("drift")}
        if set(dm) != set(exp["drift"]) or not all(
            oracles.close(dm[k][0], p) and oracles.close(dm[k][1], s) for k, (p, s) in exp["drift"].items()
        ):
            errors.append("drift_metrics PSI/KS differ from the bucket-count recomputation")
        shutil.rmtree(out, ignore_errors=True)
        return errors


WORKLOADS = {w.name: w for w in (ValidateFresh, ValidateResume, IngestMerge, ProfileDrift)}
