"""Flow-spec compiler: Tuktu-style JSON DAG -> DataFrame lineage.

A flow config is ``{"generators": [...], "processors": [...]}`` where each
node is ``{id, name, config, next: [ids]}`` — schema-compatible in spirit
with the reference (Dispatcher.scala:348-370,405-433). Differences from the
reference's execution (SURVEY.md §3.1):

- The "physical plan" IS DataFrame lineage: Catalyst does analysis,
  optimization and physical planning; there are no actors to place.
- Fan-out (multiple ``next``) = one packet stream pushed to every branch
  (Dispatcher.scala:313-330). A batch node whose plan has a shuffle runs
  its exchanges once while it builds, and every branch reads the same
  shuffle files and broadcasts; only its last stage runs per branch. A
  node without a shuffle (scans, filters, broadcast joins) is re-run per
  branch, so each branch keeps its own pushdown and pruning. Streaming
  flows are not shared. ``"cache": true`` persists the node instead.
- Fan-in (a node referenced by several parents) = the node's operator
  receives all parent DataFrames (mergers/joins); EOF reference counting
  (api.scala:189-216) has no analogue — barriers are action boundaries.
- Dead-node pruning mirrors Dispatcher.scala:94-104: only nodes reachable
  from a generator are compiled.
- ``#{param}`` config-time substitution (utils.scala:150-162) happens
  before compilation via expressions.substitute_config.
"""

from __future__ import annotations

import contextlib
import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..expressions import substitute_config, substitute_meta
from ..operators import make_operator, make_source
from ..operators.registry import flag
from ..tables import persist, release


class FlowError(ValueError):
    pass


def _load(flow: dict | str) -> dict:
    if isinstance(flow, str):
        with open(flow) as f:
            return json.load(f)
    return flow


@contextlib.contextmanager
def _job_description(spark: SparkSession, text: str):
    """Label the Spark jobs the body launches with ``text`` (Spark's job
    description), then restore the caller's. The job group is left alone:
    callers count jobs by group."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def _holds_shuffle(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan has a shuffle exchange (looking inside
    AQE's wrapper, not inside cached relations, which do not re-run)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "ShuffleExchangeExec":
            return True
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def _share(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Run ``df``'s exchanges now and return a DataFrame over the executed
    RDD: every action on it (or on a plan built over it) reads the same
    shuffle files and broadcasts and re-runs only the last stage. Nothing
    is persisted; the shuffle files live as long as the RDD is referenced."""
    jvm, jdf = spark._jvm, df._jdf
    rdd = jdf.queryExecution().toRdd()
    logical_rdd = getattr(getattr(jvm.org.apache.spark.sql.execution, "LogicalRDD$"), "MODULE$")
    plan = logical_rdd.fromDataset(rdd, jdf, False)
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan), spark)


def compile_flow(
    spark: SparkSession,
    flow: dict | str,
    params: dict[str, Any] | None = None,
    meta: dict[str, Any] | None = None,
    _substituted: bool = False,
) -> dict[str, DataFrame]:
    """Compile a flow spec; returns {node_id: DataFrame} for every compiled
    node (sinks excluded — use run_flow to execute them). Spark jobs run
    while a node builds (schema inference, sinks, eager probes) carry the
    job description ``node <id> (<operator>)``; a shared fan-out node's
    exchanges run here too, as ``node <id> (<operator>): shared by <n>
    branches``.

    ``params`` fills ``#{}`` (config-time); ``meta`` fills ``%{}``
    (dispatch-time — supplied by an including flow or the caller).
    ``_substituted`` marks a spec whose placeholders the caller already
    filled (run_flow): substitution must not run twice, else a substituted
    VALUE containing literal '#{x}'/'%{x}' text would be re-matched and
    raise a missing-parameter error."""
    spec = _load(flow)
    if not _substituted:
        spec = substitute_meta(substitute_config(spec, params or {}), meta or {})
    generators = spec.get("generators", [])
    processors = {p["id"]: p for p in spec.get("processors", [])}
    if not generators:
        raise FlowError("flow needs at least one generator")

    # --- reachability (dead-node pruning, Dispatcher.scala:94-104) ---
    reachable: set[str] = set()
    stack = [nid for g in generators for nid in g.get("next", [])]
    while stack:
        nid = stack.pop()
        if nid in reachable:
            continue
        if nid not in processors:
            raise FlowError(f"edge to unknown processor {nid!r}")
        reachable.add(nid)
        stack.extend(processors[nid].get("next", []))

    # --- predecessor map (fan-in detection) ---
    preds: dict[str, list[str]] = {nid: [] for nid in reachable}
    for g in generators:
        gid = g.get("id", f"__gen{generators.index(g)}__")
        for nxt in g.get("next", []):
            preds[nxt].append(gid)
    # Deterministic fan-in order (FLOWSPEC.md: parents are positional):
    # generator parents first in declaration order (loop above), then
    # processor parents in DECLARATION order — never set-iteration order,
    # which varies with PYTHONHASHSEED and would silently swap join sides.
    for p in spec.get("processors", []):
        nid = p["id"]
        if nid not in reachable:
            continue
        for nxt in p.get("next", []):
            preds[nxt].append(nid)

    outputs: dict[str, DataFrame] = {}

    # --- generators ---
    for g in generators:
        gid = g.get("id", f"__gen{generators.index(g)}__")
        label = f"node {gid} ({g['name']})"
        try:
            with _job_description(spark, label):
                outputs[gid] = make_source(spark, g["name"], g.get("config", {}))
            if flag(g, "cache", False):
                outputs[gid] = persist(outputs[gid])
        except Exception as e:
            e.add_note(label)
            raise
    batch = not any(df.isStreaming for df in outputs.values())

    # --- processors in topological order ---
    remaining = set(reachable)
    while remaining:
        progressed = False
        for nid in sorted(remaining):
            if any(p not in outputs for p in preds[nid]):
                continue
            node = processors[nid]
            inputs = [outputs[p] for p in preds[nid]]
            label = f"node {nid} ({node['name']})"
            branches = len(set(node.get("next", [])))
            try:
                with _job_description(spark, label):
                    transform = make_operator(node["name"], node.get("config", {}))
                    try:
                        out = transform(*inputs)
                    except TypeError as e:
                        raise FlowError(
                            f"operator {node['name']!r} at node {nid!r} got "
                            f"{len(inputs)} input(s): {e}"
                        ) from e
                if out is None:
                    raise FlowError(
                        f"operator {node['name']!r} at node {nid!r} returned no DataFrame"
                    )
                if flag(node, "cache", False):
                    out = persist(out)
                elif batch and branches > 1 and _holds_shuffle(out):
                    with _job_description(spark, f"{label}: shared by {branches} branches"):
                        out = _share(spark, out)
            except Exception as e:
                # name the failing node but keep the type callers match on
                e.add_note(label)
                raise
            outputs[nid] = out
            remaining.discard(nid)
            progressed = True
        if not progressed:
            raise FlowError(f"cycle or unreachable predecessor among {sorted(remaining)}")
    return outputs


def run_flow(
    spark: SparkSession,
    flow: dict | str,
    params: dict[str, Any] | None = None,
    meta: dict[str, Any] | None = None,
) -> dict[str, DataFrame]:
    """Compile and return the flow's terminal outputs ({leaf_id: DataFrame}).
    Sink operators (parquet_sink, console, ...) execute as they compile.

    Persists from PREVIOUS flow runs and query builds are released on
    entry (tables.release); this run's stay pinned for its returned
    DataFrames."""
    release()
    spec = substitute_meta(substitute_config(_load(flow), params or {}), meta or {})
    outputs = compile_flow(spark, spec, _substituted=True)
    leaves = {}
    procs = {p["id"]: p for p in spec.get("processors", [])}
    for nid, df in outputs.items():
        node = procs.get(nid)
        if node is not None and not node.get("next"):
            leaves[nid] = df
    return leaves or outputs


def run_stream_flow(
    spark: SparkSession,
    flow: dict | str,
    node: str,
    params: dict[str, Any] | None = None,
    output_mode: str = "append",
    timeout_s: float | None = None,
    available_now: bool = False,
):
    """Execute an UNBOUNDED flow (a generator like ``rate_stream`` /
    ``kafka_stream``): compile the DAG exactly as in batch — operators are
    DataFrame transforms either way — then start the chosen node as a
    memory-sink streaming query (§3.1: unbounded flows run as
    ``writeStream`` actions). Returns (StreamingQuery, results_table_name);
    caller stops the query.
    """
    from ..streaming import memory_sink

    outputs = compile_flow(spark, flow, params=params)
    if node not in outputs:
        raise FlowError(
            f"node {node!r} is not a compiled node of this flow (unknown or "
            f"unreachable from a generator); compiled: {sorted(outputs)}"
        )
    sdf = outputs[node]
    if not sdf.isStreaming:
        raise FlowError(f"node {node!r} is not a streaming DataFrame")
    q, name = memory_sink(sdf, output_mode=output_mode, available_now=available_now)
    if timeout_s is not None:
        q.awaitTermination(timeout_s)
    return q, name
