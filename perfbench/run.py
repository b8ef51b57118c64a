"""Repository benchmark: end-to-end and per-layer numbers for two
workloads, at local[4]. See BENCHMARK.json for the workloads, the
metrics and which layer metric should move which end-to-end metric.

    python3 perfbench/run.py --workload {migrate_etl,operators} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. Each run gets a fresh working
directory under perfbench/_work (TMPDIR, SPARK_LOCAL_DIRS,
SPARK_CONF_DIR, Spark's cwd) that is removed afterwards, and does its
Spark work in child processes (perfbench/child.py), one at a time:

- migrate_etl: generates (or reuses, per seed) an Enfinity export and
  a migration list, then runs the migrate CLI cold, once, in a new
  process.
- operators: one cold process runs a warm-up query on the sf0.001
  tables, then times build + sink of each operator key on the sf0.01
  tables, once.

A run's length is set by these cold starts, not by --seconds, which
is accepted and ignored: one cold CLI run or operators pass already
takes longer than `run_seconds` in BENCHMARK.json, and a second, warm
pass would measure a different thing. Every
operation's output is checked: operator digests against
perfbench/expected.json; migrate_cli's found/total, log counts and
delta-XML records against what the input generator expects. Earlier
stdout lines carry a readable summary; the last line is one JSON
object {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. A traced run
makes one traced CLI run or pass and writes its spans to
perfbench/_work/traces/<workload>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 150
CPUS = "4"
DRIVER_MEMORY = "3g"
INPUT_CACHE_SEEDS = 2

sys.path.insert(0, HERE)
import workloads as W  # noqa: E402
from child import EXIT_KEY_DRIFT  # noqa: E402


def _group_alive(pgid: int) -> bool:
    """Whether any non-zombie process is left in process group `pgid`."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap_group(pgid: int, grace: float) -> None:
    """Wait up to `grace` seconds for every process of the group to
    end, then terminate, then kill what is left."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 5), (signal.SIGKILL, 5)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + wait
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


class Run:
    """One benchmark run: its working directory and child processes."""

    def __init__(self, workload: str, trace: bool):
        os.makedirs(WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"run-{workload}-", dir=WORK)
        self.trace = trace
        self.t0 = time.monotonic()
        self.n = 0

    def child(self, cfg: dict, trace: bool) -> tuple[dict | None, str]:
        """Run perfbench/child.py on `cfg` in a fresh environment and
        return (its result or None, error text). The result also holds
        `tmp_bytes_left`, the bytes the child left in its TMPDIR."""
        self.n += 1
        cdir = os.path.join(self.dir, f"child-{self.n}")
        env_dirs = {k: os.path.join(cdir, k) for k in ("tmp", "local", "conf", "cwd", "eventlog")}
        for d in env_dirs.values():
            os.makedirs(d)
        # keep the JVM's own temp files (native libraries, artifacts,
        # perf data) inside the run directory
        defaults = [f"spark.driver.extraJavaOptions -Djava.io.tmpdir={env_dirs['tmp']} "
                    "-XX:+PerfDisableSharedMem"]
        if trace:
            defaults += [
                "spark.eventLog.enabled true",
                f"spark.eventLog.dir file://{env_dirs['eventlog']}",
                "spark.eventLog.compress false",
                "spark.eventLog.rolling.enabled false",
                "spark.ui.retainedJobs 100000",
                "spark.ui.retainedStages 100000",
            ]
        with open(os.path.join(env_dirs["conf"], "spark-defaults.conf"), "w") as f:
            f.write("\n".join(defaults) + "\n")
        cfg = dict(cfg, trace=trace, event_log_dir=env_dirs["eventlog"],
                   result=os.path.join(cdir, "result.json"))
        cfg_path = os.path.join(cdir, "config.json")
        with open(cfg_path, "w", encoding="utf-8") as f:
            json.dump(cfg, f)
        env = dict(os.environ)
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        env.update(
            TMPDIR=env_dirs["tmp"], SPARK_LOCAL_DIRS=env_dirs["local"],
            SPARK_CONF_DIR=env_dirs["conf"], SPARK_GRAFT_CPUS=CPUS,
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY, PYSPARK_PYTHON=sys.executable,
            PYTHONPATH=ROOT, PERFBENCH_SPAWN_TS=repr(time.time()),
        )
        log_path = os.path.join(cdir, "child.log")
        timeout = DEADLINE_S - (time.monotonic() - self.t0)
        with open(log_path, "w") as log:
            p = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"), cfg_path],
                                 cwd=env_dirs["cwd"], env=env, stdout=log,
                                 stderr=subprocess.STDOUT, start_new_session=True)
            grace = 20
            try:
                p.wait(timeout=max(timeout, 1))
            except subprocess.TimeoutExpired:
                grace = 0
            finally:
                _reap_group(p.pid, grace)
                p.wait()
        if p.returncode == 0 and os.path.exists(cfg["result"]):
            with open(cfg["result"], encoding="utf-8") as f:
                res = json.load(f)
            res["tmp_bytes_left"] = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(env_dirs["tmp"]) for f in files)
            return res, ""
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-3000:]
        if p.returncode == EXIT_KEY_DRIFT:
            sys.exit(f"perfbench: workload key list drifted from the registry:\n{tail}")
        return None, f"child exit {p.returncode}:\n{tail}"

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


# ------------------------------------------------------------ migrate


def migrate_inputs(seed: int) -> tuple[str, dict]:
    """The seed's inputs and expectations, generated once per seed and
    kept for the next runs (the INPUT_CACHE_SEEDS most recent seeds)."""
    import migrate_inputs as gen

    cache = os.path.join(WORK, "inputs")
    d = os.path.join(cache, f"seed-{seed}")
    exp_path = os.path.join(d, "expected.json")
    if not os.path.exists(exp_path):
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=cache)
        exp = gen.generate(seed, tmp, W.MIGRATE_CUSTOMERS, W.MIGRATE_MAPPING_ROWS)
        with open(os.path.join(tmp, "expected.json"), "w", encoding="utf-8") as f:
            json.dump(exp, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    seeds = sorted((os.path.join(cache, s) for s in os.listdir(cache)), key=os.path.getmtime)
    for old in seeds[:-INPUT_CACHE_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    with open(exp_path, encoding="utf-8") as f:
        return d, json.load(f)


def run_migrate(run: Run, seed: int) -> dict:
    import migrate_inputs as gen

    inputs, expected = migrate_inputs(seed)
    cfg = {"mode": "migrate", "xml": os.path.join(inputs, "export.xml"),
           "csv": os.path.join(inputs, "mapping.csv"), "master": f"local[{CPUS}]"}
    in_bytes = sum(os.path.getsize(cfg[k]) for k in ("xml", "csv"))
    out_dir = os.path.join(run.dir, "out")
    r, err = run.child(dict(cfg, output_dir=out_dir), run.trace)
    if r is None:
        sys.exit(f"perfbench: the migrate CLI run failed: {err}")
    errors = gen.check(expected, r["result"])
    r["output_bytes"] = os.path.getsize(r["result"]["xml"])
    shutil.rmtree(out_dir, ignore_errors=True)
    out = {
        "attempted": 1, "failed": int(bool(errors)), "errors": errors,
        "e2e": {"wall_s": r["wall_s"], "setup_s": r["setup_s"],
                "records_per_s": expected["customers"] / r["wall_s"]},
        "sizes": {"customers": expected["customers"], "mapping_rows": W.MIGRATE_MAPPING_ROWS,
                  "input_bytes": in_bytes},
    }
    if run.trace:
        spans = r["spans"]

        def total(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        layer = dict(r["layer"])
        layer.update({
            "session.start_s": r["setup_s"],
            "session.warmup_s": 0.0,
            "io.tmp_bytes_left": r["tmp_bytes_left"],
            "migrate_cli.read_mapping_csv_s": total("migrate_cli.read_mapping_csv"),
            "migrate_cli.read_customers_xml_s": total("migrate_cli.read_customers_xml"),
            "migrate_cli.reconcile_s": total("migrate_cli.reconcile"),
            "ops.migration.apply_migration_s": total("ops.migration.apply_migration"),
            "xml_io.customer_xml_s": total("xml_io.customer_xml"),
            "xml_io.write_xml_document_s": total("xml_io.write_xml_document"),
            "xml_io.write_xml_document_jobs": sum(
                len(s["jobs"]) for s in spans if s["name"] == "xml_io.write_xml_document"),
            "migrate_cli.run_self_s": r["run_self_s"],
            "migrate_cli.run_jobs": sum(len(s["jobs"]) for s in spans),
            "xml_io.output_bytes": r["output_bytes"],
            "xml_io.xml_bytes_read_per_input_byte": layer["spark.input_bytes"] / in_bytes,
            "trace.wall_s": r["wall_s"],
        })
        out["layer"] = layer
        out["spans"] = spans
    return out


# ---------------------------------------------------------------- ops


def run_ops(run: Run) -> dict:
    keys = [k for k, _ in W.OPERATORS]
    with open(EXPECTED, encoding="utf-8") as f:
        expected = json.load(f)[W.TIMED_SF]
    cfg = {"mode": "ops", "expected": expected,
           "warmup_dir": os.path.join(DATA, W.WARMUP_SF),
           "timed_dir": os.path.join(DATA, W.TIMED_SF)}
    res, err = run.child(cfg, run.trace)
    if res is None:
        sys.exit(f"perfbench: operators run failed: {err}")
    failed = [f"{k}: {e}" for k, e in res["failed"].items()]
    out = {
        "attempted": len(keys), "failed": len(failed), "errors": failed,
        # records_per_s is defined for migrate_etl; BENCHMARK.json makes
        # every workload report every end-to-end metric, so here it is
        # the checked result rows per second of wall_s
        "e2e": {"wall_s": res["wall_s"], "setup_s": res["setup_s"],
                "records_per_s": res["rows"] / res["wall_s"]},
        "keys_s": res["keys_s"],
        "sizes": {"keys": len(keys), "timed_sf": W.TIMED_SF, "result_rows": res["rows"]},
    }
    if run.trace:
        layer = dict(res["layer"])
        layer.update({
            "session.start_s": res["start_s"],
            "session.warmup_s": res["warmup_s"],
            "io.tmp_bytes_left": res["tmp_bytes_left"],
            "trace.wall_s": res["wall_s"],
        })
        out["layer"] = layer
        out["spans"] = res["spans"]
    return out


# --------------------------------------------------------------- main


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["migrate_etl", "operators"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the benchmark's command line; a run's length is "
                        "set by its cold starts")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pro_etl_spark", "__init__.py")):
        print("perfbench: run from a repository checkout (pro_etl_spark/ not found "
              f"next to {HERE})", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)

    run = Run(a.workload, bool(a.trace))
    try:
        if a.workload == "migrate_etl":
            out = run_migrate(run, a.seed)
        else:
            out = run_ops(run)
    finally:
        run.close()

    e2e = out["e2e"]
    ratio = out["failed"] / out["attempted"]
    print(f"perfbench {a.workload} seed={a.seed} local[{CPUS}] "
          + " ".join(f"{k}={v}" for k, v in out["sizes"].items()))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in e2e.items():
        print(f"  {k} = {v:.4f} {units[k]}")
    print(f"  failed_ratio = {ratio:.4f} ({out['failed']}/{out['attempted']})")
    for k, (c, x) in out.get("keys_s", {}).items():
        print(f"  {k}: construct {c:.3f} s, execute {x:.3f} s")
    for e in out["errors"]:
        print(f"  FAILED {e}")
    if a.trace:
        layer = out["layer"]
        if a.workload == "operators":
            for c in W.KEY_CLASSES:
                print(f"  {c} keys: construct {layer[f'keys.{c}.construct_s']:.4f} s, "
                      f"execute {layer[f'keys.{c}.execute_s']:.4f} s")
            ops = sum(v for k, v in layer.items()
                      if k.startswith("ops.") and k.endswith(("construct_s", "execute_s")))
            print(f"  sum of ops.<module>.construct_s/execute_s = {ops:.4f} s, traced wall_s "
                  f"{layer['trace.wall_s']:.4f} s")
        print(f"  tracer bookkeeping (trace.overhead_s) = {layer['trace.overhead_s']:.4f} s")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{a.workload}.json")
        with open(trace_path, "w", encoding="utf-8") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "e2e": e2e, "layer": layer,
                       "spans": out["spans"]}, f)
        print(f"  spans: {trace_path}")
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layer.get(n, 0), "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
