"""One benchmark child process: a cold Spark driver that runs one
workload's timed work and writes its measurements as JSON.

    python3 perfbench/child.py <config.json>

`run.py` starts it with a fresh environment (TMPDIR, SPARK_LOCAL_DIRS,
SPARK_CONF_DIR, core count, driver memory) and reads the file named
by the config's `result` key. Two modes:

- `ops`: start a session with `session.get_spark`, run one untimed
  warm-up query on the small tables, then time build + sink of each
  operator key on the timed tables, once. Each sink computes every
  column of every row and returns a row count and an
  order-insensitive content digest.
- `migrate`: run `migrate_cli.main` exactly as the CLI does (its own
  session builder), timing the `migrate_cli.run` call.

With `trace` set, the public calls into each layer are wrapped in
spans that carry a Spark job group, so jobs are attributed to the
span that fired them. Spans are kept in memory and written once, with
the result.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import sys
import time

#: exit code for a workload key list that no longer matches the registry
EXIT_KEY_DRIFT = 3


class Tracer:
    """Spans (name, start, end, parent) at layer boundaries, each with
    its own Spark job group. Disabled tracers record nothing and set
    no job group. `overhead_s` is the time spent in the tracer's own
    bookkeeping (span records and job-group calls)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.overhead_s = 0.0

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": self._now(), "end": None,
               "group": f"perfbench:{len(self.spans)}:{name}", **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        t_body = time.perf_counter()
        self.overhead_s += t_body - t_in
        try:
            yield
        finally:
            t_out = time.perf_counter()
            rec["end"] = self._now()
            self._stack.pop()
            if self.sc is not None:
                up = self.spans[self._stack[-1]]["group"] if self._stack else "perfbench:idle"
                self.sc.setJobGroup(up, "")
            self.overhead_s += time.perf_counter() - t_out

    def wrap(self, module, attr: str, name: str):
        """Replace `module.attr` by a spanned call of the original."""
        inner = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(module, attr, spanned)

    def count_jobs(self) -> None:
        """Attach each span's job ids (status tracker), while the
        SparkContext is still alive."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            rec["jobs"] = list(tracker.getJobIdsForGroup(rec["group"]))

    def self_time(self, idx: int) -> float:
        rec = self.spans[idx]
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == idx)
        return rec["end"] - rec["start"] - kids


def spark_counts(sc, job_ids) -> dict:
    """Jobs, stages and tasks that ran for `job_ids`, from the status
    tracker (skipped stages ran no task and are not counted)."""
    tracker = sc.statusTracker()
    stages = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = tasks = failed = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
            n_stages += 1
            tasks += st.numCompletedTasks + st.numFailedTasks
            failed += st.numFailedTasks
    return {"spark.jobs": len(job_ids), "spark.stages": n_stages,
            "spark.tasks": tasks, "spark.failed_tasks": failed}


def event_log_metrics(log_dir: str, group_prefix: str = "perfbench:") -> dict:
    """Bytes and task times of the jobs whose job group starts with
    `group_prefix`, parsed from the local Spark event log."""
    stages = set()
    durations = []
    m = dict.fromkeys(("input", "shuffle_read", "shuffle_write", "spill", "run", "gc"), 0)
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                    tm = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    durations.append((info["Finish Time"] - info["Launch Time"]) / 1000)
                    m["input"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    sr = tm.get("Shuffle Read Metrics", {})
                    m["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    m["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    m["run"] += tm.get("Executor Run Time", 0)
                    m["gc"] += tm.get("JVM GC Time", 0)
    durations.sort()
    return {
        "spark.input_bytes": m["input"],
        "spark.shuffle_read_bytes": m["shuffle_read"],
        "spark.shuffle_write_bytes": m["shuffle_write"],
        "spark.spill_bytes": m["spill"],
        "spark.executor_run_s": m["run"] / 1000,
        "spark.gc_s": m["gc"] / 1000,
        "spark.task_time_p50_s": durations[len(durations) // 2] if durations else 0.0,
        "spark.task_time_max_s": durations[-1] if durations else 0.0,
    }


def peak_rss(spark) -> dict:
    """Peak resident memory of the driver JVM and this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return {"session.jvm_peak_rss_mb": jvm_kb / 1024,
            "session.python_peak_rss_mb":
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024}


# ---------------------------------------------------------------- ops


def _canon(c, t):
    """Non-null string form of column `c` of type `t`: arrays and maps
    sorted (order-insensitive), doubles to 10 significant digits."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(t, T.StringType):
        out = c
    elif isinstance(t, (T.DoubleType, T.FloatType)):
        out = F.format_string("%.9e", c.cast("double"))
    elif isinstance(t, T.ArrayType):
        out = F.array_join(F.array_sort(F.transform(c, lambda x: _canon(x, t.elementType))), "\x01")
    elif isinstance(t, T.MapType):
        out = F.array_join(F.array_sort(F.transform(
            F.map_entries(c), lambda e: F.concat(_canon(e["key"], t.keyType), F.lit("\x04"),
                                                 _canon(e["value"], t.valueType)))), "\x01")
    elif isinstance(t, T.StructType):
        out = F.concat_ws("\x02", *[_canon(c.getField(f.name), f.dataType) for f in t.fields])
    elif isinstance(t, T.BinaryType):
        out = F.hex(c)
    else:
        out = c.cast("string")
    return F.coalesce(out, F.lit("\x00"))


def digest_sink(df) -> list[int]:
    """Row count and order-insensitive digest of every column of every
    row: the 64-bit hash of each row's canonical string, summed as two
    32-bit halves so the sums cannot overflow."""
    from pyspark.sql import functions as F

    fields = sorted(enumerate(df.schema.fields), key=lambda p: (p[1].name, p[0]))
    pos = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    row = F.concat_ws("\x03", *[_canon(F.col(f"c{i}"), f.dataType) for i, f in fields])
    h = F.xxhash64(row)
    r = pos.select(h.alias("h")).agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)), F.lit(0)),
        F.coalesce(F.sum(F.shiftright("h", 32)), F.lit(0)),
    ).collect()[0]
    return [int(r[0]), int(r[1]), int(r[2])]


def run_ops(cfg: dict, spawn_ts: float) -> dict:
    import bench
    import pro_etl_spark
    import workloads as W
    from pro_etl_spark import io as pio
    from pro_etl_spark import registry
    from pro_etl_spark.session import get_spark

    keys = [k for k, _ in W.OPERATORS]
    queries = pro_etl_spark.get_queries()
    order = {k: i for i, k in enumerate(bench.STABLE_V10)}
    drift = [k for k in keys if k not in queries or k not in order]
    if drift or sorted(keys, key=order.get) != keys:
        print(f"operator keys unregistered, not in bench.STABLE_V10, or out of its "
              f"order: {drift or keys}", file=sys.stderr)
        sys.exit(EXIT_KEY_DRIFT)
    module = {k: queries[k].__wrapped__.__module__.rsplit(".", 1)[-1] for k in keys}

    spark = get_spark("perfbench-operators")
    registry.tune(spark)
    start_s = time.time() - spawn_ts
    t_warm = time.perf_counter()
    digest_sink(queries[W.WARMUP_KEY](spark, cfg["warmup_dir"]))
    warmup_s = time.perf_counter() - t_warm
    setup_s = time.time() - spawn_ts

    sc = spark.sparkContext
    tracer = Tracer(cfg["trace"])
    tracer.sc = sc
    if cfg["trace"]:
        tracer.wrap(registry, "tune", "registry.tune")
    memo_before = sum(len(m) for m in pio.DATASET_MEMOS)
    sf_dir, expected = cfg["timed_dir"], cfg["expected"]

    per_key = {}
    for k in keys:
        m = module[k]
        t0 = time.perf_counter()
        try:
            with tracer.span(f"ops.{m}.construct", key=k):
                df = queries[k](spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span(f"ops.{m}.execute", key=k):
                digest = digest_sink(df)
            t2 = time.perf_counter()
            err = None if digest == expected.get(k) else (
                f"digest {digest} != expected {expected.get(k)}")
        except Exception as exc:  # noqa: BLE001 — a failed key is counted, the pass goes on
            t1 = t2 = time.perf_counter()
            digest, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
        per_key[k] = {"construct_s": t1 - t0, "execute_s": t2 - t1,
                      "digest": digest, "error": err}
    out = {
        "setup_s": setup_s, "start_s": start_s, "warmup_s": warmup_s,
        "wall_s": sum(r["construct_s"] + r["execute_s"] for r in per_key.values()),
        "rows": sum(r["digest"][0] for r in per_key.values() if r["digest"]),
        "failed": {k: r["error"] for k, r in per_key.items() if r["error"]},
        "keys_s": {k: [r["construct_s"], r["execute_s"]] for k, r in per_key.items()},
    }

    if cfg["trace"]:
        tracer.count_jobs()
        spans = tracer.spans
        tunes = [s for s in spans if s["name"] == "registry.tune"]
        layer = {
            "registry.tune_s": sum(s["end"] - s["start"] for s in tunes),
            "registry.tune_calls": len(tunes),
            "io.memo_entries_built": sum(len(m) for m in pio.DATASET_MEMOS) - memo_before,
            "io.persisted_rdds": len(sc._jsc.getPersistentRDDs()),
            "trace.overhead_s": tracer.overhead_s,
        }
        key_class = dict(W.OPERATORS)
        for phase in ("construct", "execute"):
            for i, s in enumerate(spans):
                if not s["name"].endswith(f".{phase}"):
                    continue
                # a construct span's jobs include those of its registry.tune child
                jobs = len(s["jobs"]) + sum(len(c["jobs"]) for c in spans if c["parent"] == i)
                for name, value in ((f"{s['name']}_s", s["end"] - s["start"]),
                                    (f"{s['name']}_jobs", jobs),
                                    (f"keys.{key_class[s['key']]}.{phase}_s",
                                     s["end"] - s["start"])):
                    layer[name] = layer.get(name, 0) + value
        layer.update(spark_counts(sc, [j for s in spans for j in s["jobs"]]))
        layer.update(peak_rss(spark))
        out["layer"] = layer
        out["spans"] = spans
    spark.stop()
    if cfg["trace"]:
        out["layer"].update(event_log_metrics(cfg["event_log_dir"]))
    return out


# ------------------------------------------------------------ migrate


def run_migrate(cfg: dict, spawn_ts: float) -> dict:
    from pro_etl_spark import migrate_cli, xml_io

    tracer = Tracer(cfg["trace"])
    out: dict = {}
    if cfg["trace"]:
        for mod, attr, name in (
            (migrate_cli, "read_mapping_csv", "migrate_cli.read_mapping_csv"),
            (migrate_cli, "read_customers_xml", "migrate_cli.read_customers_xml"),
            (migrate_cli, "reconcile", "migrate_cli.reconcile"),
            (migrate_cli, "apply_migration", "ops.migration.apply_migration"),
            (xml_io, "customer_xml", "xml_io.customer_xml"),
            (xml_io, "write_xml_document", "xml_io.write_xml_document"),
        ):
            tracer.wrap(mod, attr, name)
    inner_run = migrate_cli.run

    def timed_run(spark, *args, **kwargs):
        out["setup_s"] = time.time() - spawn_ts
        tracer.sc = spark.sparkContext
        t0 = time.perf_counter()
        with tracer.span("migrate_cli.run"):
            res = inner_run(spark, *args, **kwargs)
        out["wall_s"] = time.perf_counter() - t0
        out["result"] = res
        if cfg["trace"]:
            tracer.count_jobs()
            out["layer"] = spark_counts(spark.sparkContext,
                                        [j for s in tracer.spans for j in s["jobs"]])
            out["layer"].update(peak_rss(spark))
        return res

    migrate_cli.run = timed_run
    migrate_cli.main(["--xml", cfg["xml"], "--csv", cfg["csv"],
                      "--output-dir", cfg["output_dir"], "--master", cfg["master"]])
    if cfg["trace"]:
        out["layer"].update(event_log_metrics(cfg["event_log_dir"]))
        out["layer"]["trace.overhead_s"] = tracer.overhead_s
        out["spans"] = tracer.spans
        out["run_self_s"] = tracer.self_time(0)  # span 0 is migrate_cli.run
    return out


def main() -> None:
    spawn_ts = float(os.environ["PERFBENCH_SPAWN_TS"])
    with open(sys.argv[1], encoding="utf-8") as f:
        cfg = json.load(f)
    res = run_ops(cfg, spawn_ts) if cfg["mode"] == "ops" else run_migrate(cfg, spawn_ts)
    with open(cfg["result"], "w", encoding="utf-8") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
