"""Plan-quality audit: dump per-query physical-plan health metrics
(exchange count, broadcast vs sort-merge joins, pushed filters, scan
column pruning) into PLANS.md so plan regressions are reviewable.

``--json PATH`` instead writes a per-query plan FINGERPRINT: the
physical plan as planned (before AQE re-optimizes it at run time),
reduced to what decides its cost — operator names in tree order (a
join's name is its strategy), each Exchange's partitioning scheme,
keys, width and origin, each join's type, and each scan's pushed
filters.  Expression ids are stripped, so two builds of the same plan
fingerprint identically; diff two files to prove a refactor left every
plan unchanged.  Persisted frames are fingerprinted through their
cached plan.  The streaming band-index projection is included under
``stream:*`` keys, built over the static documents table.  The fact
writer's plan (materialize._fact_from_dims over the four star dims,
written to a temp dir) is the ``write:fact_spending`` key.  Work a
query runs eagerly at build time is fingerprinted too: each pair frame
a query hands to operators.components.connected_components is the
``eager:<query>:connected_components`` key (the query's returned plan
reads only the materialized labels).  The pair-verify keys are built a
second time with vectors.cosine_verify forced onto its Arrow-kernel
route (``route:<key>:kernel``), the route the size rule picks only
above sf0.01.  Each ``oracle_sql()`` entry adds an ``oracle:<key>``
digest: the sha1 of its SQL with all whitespace removed, so the same
diff also shows which DuckDB twins changed text.

Usage: python scripts/explain_audit.py [sf_dir] [--json PATH]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from bank_transaction_data_warehouse_spark.session import get_spark

_EXPR_ID = re.compile(r"#\d+L?")
_SPACE = re.compile(r"\s+")


def _seq(jseq) -> list:
    out, it = [], jseq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _sql(expr) -> str:
    return _EXPR_ID.sub("", expr.sql())


def _node(plan) -> dict:
    """One fingerprint node: the operator name plus, where it matters
    for cost, its exchange / join / scan details."""
    out: dict = {"op": plan.nodeName().strip()}
    cls = plan.getClass().getSimpleName()
    if cls == "ShuffleExchangeExec":
        part = plan.outputPartitioning()
        out["partitioning"] = part.getClass().getSimpleName().rstrip("$")
        out["width"] = part.numPartitions()
        out["origin"] = plan.shuffleOrigin().toString()
        if out["partitioning"] == "HashPartitioning":
            out["keys"] = [_sql(e) for e in _seq(part.expressions())]
        elif out["partitioning"] == "RangePartitioning":
            out["keys"] = [_sql(e) for e in _seq(part.ordering())]
    elif cls == "BroadcastExchangeExec":
        out["mode"] = plan.mode().getClass().getSimpleName()
    elif cls.endswith("JoinExec"):
        out["type"] = plan.joinType().toString()
    elif cls == "FileSourceScanExec":
        pushed = plan.metadata().get("PushedFilters")
        out["pushed"] = _EXPR_ID.sub("", pushed.get()) if pushed.isDefined() else ""
    return out


_WRAPPERS = ("WholeStageCodegenExec", "InputAdapter")


def fingerprint(plan) -> list:
    """Pre-order walk of a physical plan.  An AQE plan is read through
    its current plan (before execution: the initial plan, exchanges
    included), a query stage through its plan, a cached relation
    through its cached plan; codegen wrappers are skipped."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return fingerprint(plan.executedPlan())
    if cls.endswith("QueryStageExec"):
        return fingerprint(plan.plan())
    if cls in _WRAPPERS:
        return [n for c in _seq(plan.children()) for n in fingerprint(c)]
    nodes = [_node(plan)]
    if cls == "InMemoryTableScanExec":
        nodes.append({"cached": fingerprint(plan.relation().cachedPlan())})
    for child in _seq(plan.children()):
        nodes.extend(fingerprint(child))
    return nodes


def _stream_projections(spark, sf_dir) -> dict:
    """The band-index projection of the streaming jobs, over a static
    read of the documents table (the projection is stateless, so the
    batch plan is the per-micro-batch plan)."""
    from bank_transaction_data_warehouse_spark.operators.dedup import (
        minhash_band_keys,
    )
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        dedup_vs_corpus_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    return {
        "stream:minhash_band_keys": lambda: minhash_band_keys(docs),
        "stream:dedup_vs_corpus_stream": lambda: dedup_vs_corpus_stream(docs, docs),
    }


def _fact_writer(spark, sf_dir, dims_dir) -> dict:
    """The plan build_warehouse and stream_fact_into write the fact
    with: the star join over the four star dims, written under
    ``dims_dir`` first."""
    from bank_transaction_data_warehouse_spark.plans import warehouse as WH
    from bank_transaction_data_warehouse_spark.plans.materialize import _fact_from_dims
    from bank_transaction_data_warehouse_spark.sources.tables import load_table

    def fact():
        for name, build in WH.STAR_DIMS.items():
            build(spark, sf_dir).write.mode("overwrite").parquet(os.path.join(dims_dir, name))
        return _fact_from_dims(spark, dims_dir)(load_table(spark, sf_dir, "lineitem"))

    return {"write:fact_spending": fact}


# The queries whose vectors.cosine_verify routes by a vector count
# (ann_recall_report's fixed sample passes none: always the fold).
VERIFY_KEYS = ("embedding_dedup", "semantic_dedup")


def _kernel_routes(spark, sf_dir) -> dict:
    """The verify keys built with the size rule's crossover at 0, so
    cosine_verify takes its Arrow-kernel route."""
    from bank_transaction_data_warehouse_spark.functions import vectors

    def build(fn):
        saved, vectors.KERNEL_MIN_VECTORS = vectors.KERNEL_MIN_VECTORS, 0
        try:
            return fn(spark, sf_dir)
        finally:
            vectors.KERNEL_MIN_VECTORS = saved

    queries = E.queries()
    return {f"route:{k}:kernel": (lambda fn=queries[k]: build(fn)) for k in VERIFY_KEYS}


def _plan(df) -> list:
    return fingerprint(df._jdf.queryExecution().executedPlan())


def write_fingerprints(spark, sf_dir, path) -> None:
    from bank_transaction_data_warehouse_spark.operators import components

    builders = {n: (lambda fn=fn: fn(spark, sf_dir)) for n, fn in E.queries().items()}
    builders.update(_stream_projections(spark, sf_dir))
    builders.update(_kernel_routes(spark, sf_dir))
    out = {}
    eager = components.connected_components

    def fingerprinted_components(pairs, *args, **kwargs):
        # ``name``: the builder running now (the loop below)
        out[f"eager:{name}:connected_components"] = _plan(pairs)
        return eager(pairs, *args, **kwargs)

    components.connected_components = fingerprinted_components
    try:
        with tempfile.TemporaryDirectory() as dims_dir:
            builders.update(_fact_writer(spark, sf_dir, dims_dir))
            for name in sorted(builders):
                try:
                    out[name] = _plan(builders[name]())
                except Exception as ex:  # pragma: no cover
                    out[name] = {"error": str(ex)[:200]}
                spark.catalog.clearCache()
    finally:
        components.connected_components = eager
    for name, sql in E.oracle_sql().items():
        out[f"oracle:{name}"] = hashlib.sha1(
            _SPACE.sub("", sql).encode()
        ).hexdigest()
    # one plan node per line: a diff of two files reads node by node
    entries = []
    for name, nodes in sorted(out.items()):
        if isinstance(nodes, list):
            body = "[\n" + ",\n".join(
                "  " + json.dumps(n, sort_keys=True) for n in nodes
            ) + "\n ]"
        else:
            body = json.dumps(nodes, sort_keys=True)
        entries.append(f" {json.dumps(name)}: {body}")
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(entries) + "\n}\n")
    print(f"wrote {len(out)} plan fingerprints and oracle digests to {path}")


def audit(df):
    jqe = df._jdf.queryExecution()
    plan = jqe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = [
        p.strip()
        for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        if p.strip()
    ]
    # count value-bearing pushed predicates (not the automatic IsNotNull)
    value_pushed = sum(
        1
        for p in pushed
        for tok in p.split("), ")
        if not tok.strip().startswith("IsNotNull")
    )
    return {
        "exchanges": plan.count("Exchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "value_filters_pushed": value_pushed,
        "scans": plan.count("Scan parquet"),
    }


def main() -> None:
    json_path = None
    if "--json" in sys.argv:
        i = sys.argv.index("--json")
        json_path = sys.argv[i + 1]
        del sys.argv[i : i + 2]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    if json_path:
        write_fingerprints(spark, sf_dir, json_path)
        spark.stop()
        return
    rows = []
    for name, fn in sorted(E.queries().items()):
        try:
            rows.append((name, audit(fn(spark, sf_dir))))
        except Exception as ex:  # pragma: no cover
            rows.append((name, {"error": str(ex)[:80]}))
    lines = [
        "# PLANS — physical-plan audit (generated by scripts/explain_audit.py)",
        "",
        "Per-query plan health at analysis time. `sortmerge_joins` should be 0",
        "everywhere dims are involved (broadcast instead); `exchanges` include",
        "broadcast exchanges.  As of r12 NO query plans a single-partition",
        "(empty-partitionBy) window — enforced by tests/test_driver_contract.py.",
        "Counts for queries with a persisted two-consumer frame (customer_rfm,",
        "mom_growth, rolling_spend_7d) double-print the cached subplan; it",
        "executes once.",
        "",
        "| query | exchanges | bcast joins | SMJ | pushed value-filters | scans |",
        "|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        if "error" in a:
            lines.append(f"| {name} | ERROR: {a['error']} | | | | |")
        else:
            lines.append(
                f"| {name} | {a['exchanges']} | {a['broadcast_joins']} | "
                f"{a['sortmerge_joins']} | {a['value_filters_pushed']} | {a['scans']} |"
            )
    out = "\n".join(lines) + "\n"
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
