"""The traced run: per-layer numbers for one workload, separate from the
timed runs.

Each layer is timed from outside, by a span around calls to that layer's
public functions (``ccm.CCM``, ``plans.cross_map.ccm_plan`` through
``result_df``, ``operators.*``, ``fastpath.ccm_apply_in_pandas``,
``oracle.bidirectional_ccm``). A span is (name, start, end, parent, call id);
spans stay in memory and are written to ``trace.json`` in the work directory
at the end. Every span tags its Spark jobs with
``setJobGroup("<workload>:<span>")``, and the event log (enabled through
``get_spark(extra_conf=...)``) is parsed after the session stops to
attribute stages, tasks, executor time, shuffle, spill and Python-worker
bytes to spans.

Operator self time: each operator's output is persisted and materialised
on its persisted input, so its span is its self time. The kNN candidates
(J1) are too large to persist, so J1 is materialised as an aggregate over
the join and K1's self time is the prefix difference (J1 + K1) - J1.

A metric whose layer is not on a workload's path reads 0 there (for
example every ``knn.*`` on fleet_fast, every ``fastpath.*`` on the plan
workloads): the layer did no work in that workload.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import workloads as bench

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "generators.s": "s",
    "sources.write_s": "s",
    "sources.read_s": "s",
    "sources.input_rows": "rows",
    "ccm.build_s": "s",
    "ccm.plan_s": "s",
    "ccm.exec_s": "s",
    "cross_map.exchanges": "count",
    "cross_map.stages": "count",
    "cross_map.tasks": "count",
    "cross_map.shuffle_write_bytes": "bytes",
    "cross_map.spill_bytes": "bytes",
    "cross_map.executor_run_s": "s",
    "embedding.self_s": "s",
    "embedding.rows": "rows",
    "sampling.self_s": "s",
    "sampling.rows": "rows",
    "knn.join_self_s": "s",
    "knn.candidate_rows": "rows",
    "knn.topk_self_s": "s",
    "knn.kept_rows": "rows",
    "knn.keep_ratio": "ratio",
    "simplex.self_s": "s",
    "simplex.pred_rows": "rows",
    "stats.self_s": "s",
    "stats.sample_rows": "rows",
    "stats.skill_rows": "rows",
    "fastpath.exec_s": "s",
    "fastpath.python_bytes_sent": "bytes",
    "fastpath.python_bytes_received": "bytes",
    "fastpath.overhead_ratio": "ratio",
    "oracle.kernel_s_per_pair": "s",
    "oracle.candidate_pairs": "rows",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
}

#: SQL metric names Spark's Python exec nodes report per task
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


class Tracer:
    """In-memory spans; each span tags the Spark jobs it submits."""

    def __init__(self, spark, workload: str, t0: float):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = t0

    def group(self, name: str) -> str:
        return f"{self.workload}:{name}"

    @contextmanager
    def span(self, name: str, call: int):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(self.group(name), name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(
                {
                    "name": name,
                    "start": start - self._t0,
                    "end": end - self._t0,
                    "parent": parent,
                    "call": call,
                }
            )

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def add(self, name: str, start: float, end: float, call: int) -> None:
        """A span timed before the tracer existed (the set-up phases)."""
        self.spans.append(
            {"name": name, "start": start - self._t0, "end": end - self._t0, "parent": None, "call": call}
        )


# --------------------------------------------------------------------------
# event log


def parse_event_log(path: Path) -> dict[str, dict]:
    """job group -> {stages, tasks, executor_run_s, shuffle_write_bytes,
    spill_bytes, python_bytes_sent, python_bytes_received}."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages: dict[str, set] = defaultdict(set)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                stages[group].add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                g = out[group]
                g["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PY_SENT:
                        g["python_bytes_sent"] += int(acc.get("Update", 0))
                    elif acc.get("Name") == PY_RECEIVED:
                        g["python_bytes_received"] += int(acc.get("Update", 0))
    for group, ids in stages.items():
        out[group]["stages"] += len(ids)
    return {k: dict(v) for k, v in out.items()}


def exchanges(df) -> int:
    """Exchange nodes in the final adaptive plan of an executed DataFrame,
    cached subplans included; an exchange printed under several scans of
    one cached relation counts once (by plan id)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    ids, skip_below = set(), None
    for line in text.splitlines():
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if skip_below is not None:
            if depth > skip_below:
                continue
            skip_below = None
        if node.startswith("== Initial Plan =="):
            skip_below = depth
        elif re.match(r"(Broadcast)?Exchange ", node):
            ids.add(re.search(r"\[plan_id=(\d+)\]", node).group(1))
    return len(ids)


# --------------------------------------------------------------------------
# the traced pieces


def traced_call(tracer: Tracer, wl, seed: int, work: Path, sess, pair, call: int):
    """One user call split into build / plan / exec spans. Returns the
    executed result DataFrame and its per-pair rows."""
    from ccm_spark import CCM
    from ccm_spark.fastpath import ccm_apply_in_pandas
    from ccm_spark.sources.tables import load_table

    spark = sess.spark
    cfg = bench.ccm_config(wl, seed)
    if wl.name == "fleet_fast":
        with tracer.span("fastpath.exec", call):
            result = ccm_apply_in_pandas(load_table(spark, bench.fleet_dir(work), "fleet"), cfg)
            rows = result.collect()
        return result, bench.fleet_rows(rows)
    with tracer.span("ccm.build", call):
        if wl.fleet:
            c = CCM.from_dataframe(
                load_table(spark, bench.fleet_dir(work), "fleet"),
                num_samples=cfg.num_samples,
                seed=cfg.seed,
            )
        else:
            _, x, y = pair
            c = CCM(spark, x, y, num_samples=cfg.num_samples, seed=cfg.seed)
    with tracer.span("ccm.plan", call):
        result = c.result_df().orderBy("pair_id", "direction", "lib_size")
        result._jdf.queryExecution().executedPlan()
    with tracer.span("ccm.exec", call):
        rows = result.collect()
    return result, bench.fleet_rows(rows)


def decompose(tracer: Tracer, spark, series, wl, seed: int, call: int) -> tuple[dict, dict]:
    """Run the plan path operator by operator on ``series`` (persisted
    input, persisted outputs). Returns (counts, per-pair result rows)."""
    import pyspark.sql.functions as F

    from ccm_spark.operators import (
        convergence,
        embed_bidirectional,
        fan_out_with_rank,
        knn_candidates,
        lib_sizes_df,
        pearson_by_sample,
        simplex_weights,
        skill_by_lib_size,
        top_k_neighbors,
        weighted_prediction,
    )
    from ccm_spark.operators.embedding import DIRECTION_NAMES

    cfg = bench.ccm_config(wl, seed)
    dim, tau = cfg.embedding_dim, cfg.tau
    counts = {}
    series = series.persist()
    series.count()
    with tracer.span("embedding", call):
        emb = embed_bidirectional(series, dim, tau).persist()
        counts["embedding.rows"] = emb.count()
    with tracer.span("sampling", call):
        ladder = lib_sizes_df(series, dim, tau).persist()
        fanned = fan_out_with_rank(emb, ladder, cfg.num_samples, cfg.seed).persist()
        counts["sampling.rows"] = fanned.count()
    cands = knn_candidates(fanned, dim, cfg.exclusion_radius)
    with tracer.span("knn.join", call):
        row = cands.agg(F.count("*").alias("n"), F.sum("dist").alias("d")).collect()[0]
        counts["knn.candidate_rows"] = row["n"]
    with tracer.span("knn.topk", call):
        nn = top_k_neighbors(cands, dim).persist()
        counts["knn.kept_rows"] = nn.count()
    with tracer.span("simplex", call):
        pred = weighted_prediction(simplex_weights(nn)).persist()
        counts["simplex.pred_rows"] = pred.count()
    with tracer.span("stats", call):
        corr = pearson_by_sample(pred).persist()
        counts["stats.sample_rows"] = corr.count()
        dirs = spark.range(2).select(F.col("id").cast("int").alias("dir_id"))
        skill = skill_by_lib_size(corr, ladder.crossJoin(F.broadcast(dirs)), cfg.num_samples)
        skill = skill.persist()
        skill_rows = skill.collect()
        counts["stats.skill_rows"] = len(skill_rows)
        conv = {(r.pair_id, r.dir_id): r for r in convergence(skill).collect()}
    spark.catalog.clearCache()
    got: dict = {}
    for r in skill_rows:
        c = conv[(r.pair_id, r.dir_id)]
        got.setdefault(r.pair_id, {})[(DIRECTION_NAMES[r.dir_id], r.lib_size)] = (
            r.correlation,
            c.slope,
            c.convergent,
        )
    return counts, got


def candidate_pairs(wl, seed: int, n_pairs: int) -> int:
    """sum over (pair, direction, lib size, sample) of Q * L, Q = P - L:
    the rows an exhaustive kNN join must produce."""
    cfg = bench.ccm_config(wl, seed)
    p = wl.points - (cfg.embedding_dim - 1) * cfg.tau
    per_pair = sum(max(p - L, 0) * L for L in cfg.resolved_lib_sizes(wl.points))
    return n_pairs * 2 * cfg.num_samples * per_pair


# --------------------------------------------------------------------------
# the run


def traced_run(wl, seed: int, work: Path, n_cores: int, t0: float) -> dict:
    log_dir = work / "eventlog"
    log_dir.mkdir(parents=True)
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    sess = bench.set_up(wl, seed, work, n_cores, extra_conf=conf)
    tracer = Tracer(sess.spark, wl.name, t0)
    for name, start, end in sess.phases:
        tracer.add(name, start, end, call=0)
    spark = sess.spark
    client = bench.Client(wl, seed, work, sess)

    m = {k: 0.0 for k in PER_LAYER_UNITS}
    d = sess.durations
    m["session.start_s"] = d["session.start"]
    m["generators.s"] = d["generators"]
    m["sources.write_s"] = d["sources.write"]

    # sources: the input relation a call starts from
    if wl.fleet:
        import pyspark.sql.functions as F

        from ccm_spark.sources.tables import load_table

        with tracer.span("sources.read", call=0):
            df = load_table(spark, bench.fleet_dir(work), "fleet")
            m["sources.input_rows"] = df.agg(
                F.count("*").alias("n"), F.sum("x"), F.sum("y"), F.max("t")
            ).collect()[0]["n"]
        m["sources.read_s"] = tracer.seconds("sources.read")
    else:
        m["sources.input_rows"] = wl.points

    # a cold untraced call (call id 0), then the traced call (call id 2)
    # between two warm untraced ones (call ids 1 and 3): calls still speed
    # up as the JVM warms, so the overhead baseline is their mean
    client.call()
    untraced_before = client.call()
    if wl.fleet:
        pair, want = None, client.expected
    else:  # the single-pair API numbers its one pair 0
        pair, pair_want = client.next_pair()
        want = {0: pair_want}
    result, got = traced_call(tracer, wl, seed, work, sess, pair, call=2)
    client.check(bench.all_match(got, want))
    m["cross_map.exchanges"] = exchanges(result)
    spark.catalog.clearCache()
    untraced_wall = (untraced_before + client.call()) / 2
    if wl.name == "fleet_fast":
        traced_wall = tracer.seconds("fastpath.exec")
        m["fastpath.exec_s"] = traced_wall
    else:
        for part in ("build", "plan", "exec"):
            m[f"ccm.{part}_s"] = tracer.seconds(f"ccm.{part}")
        traced_wall = m["ccm.build_s"] + m["ccm.plan_s"] + m["ccm.exec_s"]
        # operator decomposition (call id 4) on the traced call's input
        if wl.fleet:
            from ccm_spark.sources.tables import load_table

            series = load_table(spark, bench.fleet_dir(work), "fleet")
        else:
            series = spark.createDataFrame(
                [(0, t, float(a), float(b)) for t, (a, b) in enumerate(zip(pair[1], pair[2]))],
                "pair_id long, t long, x double, y double",
            )
        counts, got = decompose(tracer, spark, series, wl, seed, call=4)
        client.check(bench.all_match(got, want))
        m.update(counts)
        for layer in ("embedding", "sampling", "simplex", "stats"):
            m[f"{layer}.self_s"] = tracer.seconds(layer)
        m["knn.join_self_s"] = tracer.seconds("knn.join")
        m["knn.topk_self_s"] = tracer.seconds("knn.topk") - m["knn.join_self_s"]
        m["knn.keep_ratio"] = m["knn.kept_rows"] / m["knn.candidate_rows"]
    m["trace.overhead_s"] = traced_wall - untraced_wall
    m["oracle.kernel_s_per_pair"] = statistics.median(client.kernel_s)
    m["oracle.candidate_pairs"] = candidate_pairs(wl, seed, len(want))
    if wl.name == "fleet_fast":
        m["fastpath.overhead_ratio"] = (
            untraced_wall * n_cores / (wl.pairs * m["oracle.kernel_s_per_pair"])
        )
    m["peak_rss_mb"] = bench.peak_rss_mb(spark)
    m["failed_frac"] = client.failed / client.attempted

    bench.shutdown(spark)
    (log,) = [p for p in log_dir.iterdir() if p.is_file()]
    groups = parse_event_log(log)
    call_groups = ["fastpath.exec"] if wl.name == "fleet_fast" else ["ccm.plan", "ccm.exec"]
    for g in call_groups:
        stats = groups.get(tracer.group(g), {})
        for key in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_s"):
            m[f"cross_map.{key}"] += stats.get(key, 0)
        if wl.name == "fleet_fast":
            m["fastpath.python_bytes_sent"] += stats.get("python_bytes_sent", 0)
            m["fastpath.python_bytes_received"] += stats.get("python_bytes_received", 0)
    (work / "trace.json").write_text(
        json.dumps({"workload": wl.name, "seed": seed, "spans": tracer.spans, "groups": groups}, indent=1)
    )
    metrics = {k: bench.metric(v, PER_LAYER_UNITS[k]) for k, v in m.items()}
    untraced = {"untraced_call_s": bench.metric(untraced_wall, "s", 2)}
    return {"client": client, "metrics": metrics, "info": untraced}
