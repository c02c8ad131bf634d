#!/usr/bin/env python3
"""The repository's benchmark: seeded closed-loop workloads driven from one
JVM process per run, with an output check and a traced mode.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (sbt, offline) into `.bench_build/`; the seed's inputs are
generated there too. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics, the layer self
times and the tracing overhead. The lines before it print every metric of
the workload by name, with its unit and sample count.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

# Workload definitions. Sizes are chosen so that set-up, the measured window
# and the output check of one run finish in well under a minute on 4 cores.
INTERACTIVE_LANES = [
    "cat03_stats_skip", "cat08_bloom_point", "q05_customers_no_final",
    "q11_segment_setops", "q22_ranking", "q29_skyline", "q36_grouping_sets",
    "t03_ohlc_bars",
]
WORKLOADS = {
    "interactive_sql": {"lanes": INTERACTIVE_LANES, "gen": {"sf": 0.001}},
    # Eight 16-operation cycles: one takes about 13 s on 4 cores, so a 5 s
    # window runs one; the cap only ends the windows of a far faster engine.
    "lake_writes": {"gen": {"sf": 0.001, "lake_cycles": 8, "lake_base_rows": 60000,
                            "lake_batch_rows": 2000}},
}
COMMITS = ("append", "merge", "update", "delete", "upsert", "store_append", "docs_append")
READS = ("point", "range", "aggregate", "time_travel", "changes")
JVM_TIMEOUT_S = 150
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "norm_ops_per_s": "1/s"}
# Seconds the calibration loop takes on the reference host (4-vCPU x86 VM).
CALIBRATION_REF_S = 0.05


class BenchError(Exception):
    pass


# ---- build ---------------------------------------------------------------

def _source_files():
    for base, rel in ((ROOT, "src"), (HERE, "src")):
        for d, _, fs in os.walk(os.path.join(base, rel)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties"):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build():
    """Compile the engine and the harness once per source state; return the
    runtime classpath."""
    for need in ("build.sbt", "src", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"engine sources not found: {need} is missing under {ROOT}")
    h = hashlib.sha256()
    for f in _source_files():
        if os.path.isfile(f):
            h.update(f.encode())
            h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    p = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
              "export perfbench/Runtime/fullClasspath"], cwd=HERE, env=env, timeout=850)
    lines = [l for l in p.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise BenchError("build failed:\n" + p[-3000:])
    open(cp_file, "w").write(lines[-1].strip())
    open(stamp_file, "w").write(stamp)
    return lines[-1].strip()


def _run(cmd, cwd, env, timeout, log=None):
    """Run a child in its own process group; kill the group on timeout and
    wait for it, so no process outlives the benchmark."""
    out = open(log, "w") if log else subprocess.PIPE
    try:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             text=True, start_new_session=True)
    except OSError as e:
        raise BenchError(f"cannot start {cmd[0]}: {e}")
    try:
        text, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} timed out after {timeout} s")
    finally:
        if log:
            out.close()
    if p.returncode != 0:
        tail = open(log).read()[-3000:] if log else (text or "")[-3000:]
        raise BenchError(f"{cmd[0]} exited {p.returncode}:\n{tail}")
    return text or ""


# ---- one run -------------------------------------------------------------

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def generate(workload, seed):
    """The seed's inputs, generated once per generator version."""
    import gen
    version = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:12]
    data = os.path.join(ROOT, ".bench_build", "data", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(data, "DONE")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, seed, **WORKLOADS[workload]["gen"])
        open(os.path.join(data, "DONE"), "w").close()
    return data


def run_jvm(cp, workload, seed, seconds, trace, data):
    work = os.path.join(ROOT, ".bench_build", "work", f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rec = os.path.join(work, "record.json")
    args = ["--workload", workload, "--data", data, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace), "--seed", str(seed), "--out", rec]
    if "lanes" in WORKLOADS[workload]:
        args += ["--lanes", ",".join(WORKLOADS[workload]["lanes"])]
    if workload == "lake_writes":
        args += ["--specs", os.path.join(HERE, "tables")]
    # A fixed heap and young generation: the peak resident set then follows
    # what the program retains, not when the collector chose to grow the heap.
    cmd = (["java", *JAVA_OPENS, "-Xms2g", "-Xmx2g", "-Xmn384m", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    _run(cmd, cwd=work, env=env, timeout=JVM_TIMEOUT_S, log=os.path.join(work, "jvm.log"))
    return work, json.load(open(rec))


# ---- metrics -------------------------------------------------------------

def percentile(values, q):
    """The q-quantile (nearest rank), or None unless at least 10 samples
    lie beyond it."""
    n = len(values)
    rank = math.ceil(q * n - 1e-9)
    if n == 0 or n - rank < 10:
        return None
    return statistics.median(values) if q == 0.5 else sorted(values)[rank - 1]


def latencies(ops, kinds=None):
    return [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops
            if o["ok"] and (kinds is None or o["kind"] in kinds)]


def with_wall(ops, window_end_ms):
    """Each operation with its share of the window's wall time: from its
    start to the next operation's start (the last one's: to the window's
    end), so work the engine does between operations counts too."""
    ends = [o["start_ms"] for o in ops[1:]] + [window_end_ms]
    return [dict(o, wall_ms=end - o["start_ms"]) for o, end in zip(ops, ends)]


def wall_s(ops):
    return sum(o["wall_ms"] for o in ops) / 1e3


def mean(v):
    return sum(v) / len(v) if v else 0.0


def window_metrics(ops, calibration):
    """Operations completed per second of one window: correct operations
    over the window's wall time; and the same rate scaled to the reference
    host speed, by the median time of the calibration loop timed, engine
    idle, before and after the window."""
    if not ops:
        return {"ops_per_s": None, "norm_ops_per_s": None}
    rate = len(latencies(ops)) / wall_s(ops)
    return {"ops_per_s": rate,
            "norm_ops_per_s": rate * statistics.median(calibration) / CALIBRATION_REF_S}


def report_metrics(workload, rec, ops, data, live_bytes):
    """Every end-to-end metric of the benchmark's design, for the report
    lines: (value or None, unit, sample count, note)."""
    lat = latencies(ops)
    n_bad = sum(not o["ok"] for o in ops)
    m = {"setup_s": (rec["setup_s"], "s", 1, ""),
         "peak_rss_mb": (rec["peak_rss_mb"], "MB", 1, ""),
         "failed_ratio": (n_bad / len(ops) if ops else None, "share", len(ops), "")}
    na = "not measured by this workload"
    for k, u in (("queries_per_s", "1/s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
                 ("commit_p50_s", "s"), ("commit_p90_s", "s"),
                 ("read_p50_s", "s"), ("refresh_p50_s", "s"), ("trigger_p50_s", "s"),
                 ("ingest_rows_per_s", "rows/s"), ("write_amp", "ratio"), ("space_amp", "ratio")):
        m[k] = (None, u, 0, na)
    wall = wall_s(ops) or 1.0
    if workload == "interactive_sql":
        m["queries_per_s"] = (len(lat) / wall, "1/s", len(lat), "")
        m["query_p50_s"] = (percentile(lat, 0.5), "s", len(lat), "")
        m["query_p90_s"] = (percentile(lat, 0.9), "s", len(lat), "")
    else:
        import gen
        stream = json.load(open(f"{data}/lake/ops.json"))
        commits = latencies(ops, COMMITS)
        m["commit_p50_s"] = (percentile(commits, 0.5), "s", len(commits), "")
        m["commit_p90_s"] = (percentile(commits, 0.9), "s", len(commits), "")
        for k, kinds in (("read_p50_s", READS), ("refresh_p50_s", ("refresh_mv",)),
                         ("trigger_p50_s", ("trigger",))):
            v = latencies(ops, kinds)
            m[k] = (percentile(v, 0.5), "s", len(v), "")
        rows = 0
        for o in ops:
            if o["ok"] and o["kind"] in COMMITS and o["name"].startswith("op "):
                op = stream["ops"][int(o["name"][3:])]
                if "batch" in op:
                    rows += gen.DOCS_BATCH_ROWS if o["kind"] == "docs_append" \
                        else stream["batch_rows"]
        m["ingest_rows_per_s"] = (rows / wall, "rows/s", len(commits), "")
        user = sum(o["user_bytes"] for o in ops if o["ok"])
        ex = rec["extra"]
        m["write_amp"] = (ex["engine_bytes_written"] / user if user else None, "ratio", 1,
                          "bytes written / user bytes")
        m["space_amp"] = (ex["orders_bytes"] / live_bytes if live_bytes else None, "ratio", 1,
                          "bytes stored / live user bytes")
    return m


def layer_metrics(workload, rec, ops):
    """Per-layer metrics of the traced half of a traced run."""
    t = rec["trace"]
    c = t["counts"]
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))

    def per_op(k):
        return c.get(k, 0.0) / n

    def mean_of(kinds):
        return mean(latencies(traced, kinds))

    out = {
        "plan.analysis_s": per_op("plan.analysis_s"),
        "plan.optimizer_s": per_op("plan.optimizer_s"),
        "plan.physical_s": per_op("plan.physical_s"),
        "plan.exchanges": per_op("plan.exchanges"),
        "queries.build_s": t["self_s"].get("queries", 0.0) / n,
        "exec.driver_gap_s": t["driver_gap_s"] / n,
        "scan.bytes_read": per_op("scan.bytes_read"),
        "scan.rows_read": per_op("scan.rows_read"),
        "scan.files_planned": per_op("scan.files_planned"),
        "scan.files_skip_ratio": (max(0.0, 1 - c.get("scan.files_planned_lake", 0.0) /
                                      c["scan.files_live"]) if c.get("scan.files_live") else 0.0),
        "scan.rows_kept_ratio": (c["scan.filtered_out"] / c["scan.filtered_in"]
                                 if c.get("scan.filtered_in") else 1.0),
        "exec.jobs": per_op("exec.jobs"),
        "exec.tasks": per_op("exec.tasks"),
        "exec.task_cpu_s": per_op("exec.task_cpu_s"),
        "exec.task_run_s": per_op("exec.task_run_s"),
        "exec.gc_s": per_op("exec.gc_s"),
        "exec.stage_skew": (c["exec.stage_skew_sum"] / c["exec.stage_skew_n"]
                            if c.get("exec.stage_skew_n") else 1.0),
        "shuffle.bytes_written": per_op("shuffle.bytes_written"),
        "shuffle.fetch_wait_s": per_op("shuffle.fetch_wait_s"),
        "shuffle.spill_bytes": per_op("shuffle.spill_bytes"),
        "operators.lsh_candidate_precision": (
            rec["extra"]["lsh_true_pairs"] / rec["extra"]["lsh_candidates"]
            if rec["extra"].get("lsh_candidates") else 0.0),
    }
    for k in ("append", "merge", "update", "delete", "upsert", "store_append"):
        out[f"sources.commit_s.{k}"] = mean_of((k,))
    ex = rec["extra"]
    out.update({
        "sources.commit_retries": c.get("sources.commit_retries", 0.0),
        "sources.metadata_files": float(ex.get("metadata_files", 0)),
        "sources.metadata_bytes": float(ex.get("metadata_bytes", 0)),
        "sources.meta_read_s": mean(t.get("meta_read_s", [])),
        "sources.compact_s": mean_of(("compact",)),
        "sources.compact_bytes_rewritten": c.get("sources.compact_bytes_rewritten", 0.0),
        "sources.expire_s": mean_of(("expire",)),
        "sources.refresh_s": mean_of(("refresh_mv",)),
    })
    trig = max(1.0, c.get("stream.triggers", 0.0))
    for k in ("trigger_s", "add_batch_s", "query_planning_s", "wal_commit_s", "rows_in"):
        out[f"stream.{k}"] = c.get(f"stream.{k}", 0.0) / trig
    out["catalog.provision_s"] = c.get("catalog.provision_s", 0.0)
    out["jvm.heap_peak_mb"] = c.get("jvm.heap_peak_mb", 0.0)
    out["jvm.gc_s"] = c.get("jvm.gc_s", 0.0)
    out["cache.leaked_entries"] = c.get("cache.leaked_entries", 0.0)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = t["self_s"].get(layer, 0.0) / n
    cal = rec.get("calibration_s") or [CALIBRATION_REF_S]
    a = window_metrics([o for o in ops if not o["traced"]], cal)
    b = window_metrics(traced, cal)
    out["overhead.hook_s"] = per_op("overhead.hook_s")
    out["overhead.ops_per_s"] = (b["ops_per_s"] - a["ops_per_s"]
                                 if a["ops_per_s"] is not None and b["ops_per_s"] is not None
                                 else 0.0)
    return out


LAYERS = ("queries", "plan", "exec", "sources", "stream", "jvm")


def layer_unit(name):
    """Unit of a per-layer metric, from its name."""
    leaf = name.split(".", 1)[1]
    if leaf == "ops_per_s":
        return "1/s"
    if name.startswith("sources.commit_s.") or leaf.endswith("_s"):
        return "s"
    if leaf.endswith("bytes") or leaf.endswith("bytes_read") or leaf.endswith("bytes_written") \
            or leaf.endswith("bytes_rewritten"):
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("ratio") or leaf.endswith("precision"):
        return "share"
    if leaf == "stage_skew":
        return "max/median"
    return "count"


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        t0 = time.time()
        cp = build()
        data = generate(a.workload, a.seed)
        work, rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    ops = with_wall(rec["ops"], rec["window_end_ms"])
    import oracle
    wrong, notes, live_bytes = set(), [], 0
    if a.workload == "lake_writes":
        ok, bad, live_bytes = oracle.replay_lake(data, work, rec["extra"])
        notes += bad
        if not ok:
            wrong = {o["req"] for o in ops}
    else:
        lanes = WORKLOADS[a.workload]["lanes"]
        checks = oracle.check_lanes(ROOT, data, os.path.join(work, "verify"), lanes)
        for lane, (ok, detail) in sorted(checks.items()):
            print(f"check {lane}: {'ok' if ok else 'WRONG'} ({detail})")
            if not ok:
                notes.append(f"{lane}: {detail}")
        wrong = {o["req"] for o in ops if not checks[o["name"]][0]}
    for o in ops:
        if o["req"] in wrong:
            o["ok"] = False
        if not o["ok"] and o.get("error"):
            notes.append(f"op {o['req']} {o['kind']} {o['name']}: {o['error']}")
    failed = sum(not o["ok"] for o in ops)
    for line in notes[:20]:
        print(f"defect: {line}")
    window = [o for o in ops if not o["traced"]]
    for k, (v, unit, n, note) in report_metrics(a.workload, rec, window, data, live_bytes).items():
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"metric {k} = {shown} {unit} (n={n}){' ' + note if note else ''}")
    if a.trace:
        values = layer_metrics(a.workload, rec, ops)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in values.items()}
    else:
        wm = window_metrics(window, rec["calibration_s"])
        print(f"metric ops_per_s = {wm['ops_per_s']:.6g} 1/s (n={len(window)}) as measured; "
              f"calibration loop median {statistics.median(rec['calibration_s']):.4g} s "
              f"(reference {CALIBRATION_REF_S} s)")
        values = {"setup_s": rec["setup_s"], "peak_rss_mb": rec["peak_rss_mb"],
                  "norm_ops_per_s": wm["norm_ops_per_s"]}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    # Keep the run record, log and spans; drop the tables the run wrote.
    for d in ("snap", "lake_out", "verify", "spark-local", "spark-warehouse", "ckpt", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(f"run took {time.time() - t0:.1f} s; {len(ops)} operations")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
