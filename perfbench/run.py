#!/usr/bin/env python3
"""The graft engine's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches each batch query's DuckDB
oracle result under perfbench/work; later runs reuse both while the sources
are unchanged. The run itself happens in one JVM (perfbench.Main); this
script then checks every output and prints one JSON line as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The full record of the run (config, host state, raw samples) goes to
perfbench/work/<workload>/summary.json. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
ARCHIVE = os.path.join(WORK, "classes.jsa")
DATA = os.environ.get("PERFBENCH_DATA", "/root/testdata")
WORKLOADS = ("case_analytics", "llm_ops", "sync_stream")
HEAP = "4g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import stats  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for rel in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src", "perfbench/log4j2.properties"):
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_logged(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` in its own process group, output to `log_path`; kill the
    whole group on timeout. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(deadline, cores):
    """Compile and package the engine and the harness unless the sources
    are unchanged, then record a class-data-sharing archive of a short
    stream run, which every later JVM maps instead of loading its classes
    one by one. Returns the runtime classpath and whether it was built."""
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    log("building engine and harness with sbt")
    build_log = os.path.join(WORK, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspathAsJars"], HERE, build_log,
                    deadline - time.time(), sbt_env())
    with open(build_log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {build_log}", 3)
    cps = [ln for ln in lines if not ln.startswith("[") and "scala-2.13" in ln]
    if not cps:
        fail(f"build printed no classpath; see {build_log}", 3)
    cp = cps[-1]
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train = os.path.join(WORK, "cds-train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    rc = run_logged(java_cmd(cp, [
        "--workload", "sync_stream", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--cores", str(cores), "--data", DATA, "--work", train],
        [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
        ROOT, os.path.join(WORK, "cds.log"), min(300, deadline - time.time()))
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


# -------------------------------------------------------------- oracles

def load_check():
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def data_signature(sf_dir):
    parts = [os.path.realpath(sf_dir)]
    for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        st = os.stat(f)
        parts.append(f"{os.path.basename(f)}:{st.st_size}:{int(st.st_mtime)}")
    return "|".join(parts)


def oracle_path(name, sql, sf_dir):
    key = hashlib.sha256((sql + "\n" + data_signature(sf_dir)).encode()).hexdigest()
    return os.path.join(WORK, "oracle", f"{name}-{key[:20]}.pkl")


def warm_oracles(check, cp, cores, built):
    """Cache every batch query's canonical oracle result. The tables are
    read-only, so the cache is keyed by the SQL and the data files."""
    dump = os.path.join(WORK, "oracles.json")
    if built or not os.path.exists(dump):
        rc = run_logged(java_cmd(cp, ["--dump-oracles", dump]), ROOT,
                        os.path.join(WORK, "oracles.log"), 120)
        if rc != 0:
            fail("could not list the oracle queries", 3)
    with open(dump) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(WORK, "oracle"), exist_ok=True)
    con = None
    for wl in spec.values():
        sf_dir = os.path.join(DATA, wl["scale"])
        missing = [(n, q) for n, q in sorted(wl["oracles"].items())
                   if not os.path.exists(oracle_path(n, q, sf_dir))]
        if not missing:
            continue
        con = con or duck(check, cores)
        register(con, check, sf_dir)
        for name, sql in missing:
            path = oracle_path(name, sql, sf_dir)
            cols_rows = check.canon(con.execute(sql).df())
            with open(path + ".tmp", "wb") as f:
                pickle.dump(cols_rows, f)
            os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return spec


def duck(check, cores):
    con = check.duckdb.connect()
    tmp = os.path.join(WORK, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET threads={cores}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp}'")
    return con


def register(con, check, sf_dir):
    for t in check.TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def compare_outputs(check, spec, out_dir):
    """check.py's canonical compare of each query's output against its
    cached oracle. Returns the names that do not match."""
    bad = []
    sf_dir = os.path.join(DATA, spec["scale"])
    for name, sql in sorted(spec["oracles"].items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            log(f"FAIL {name}: no output")
            bad.append(name)
            continue
        sc, sr = check.canon(check.pq.read_table(files[0]).to_pandas())
        with open(oracle_path(name, sql, sf_dir), "rb") as f:
            oc, orows = pickle.load(f)
        if sc != oc:
            log(f"FAIL {name}: columns spark={sc} oracle={oc}")
        elif len(sr) != len(orows):
            log(f"FAIL {name}: rows spark={len(sr)} oracle={len(orows)}")
        elif sr != orows:
            diffs = [(a, b) for a, b in zip(sr, orows) if a != b][:3]
            log(f"FAIL {name}: value mismatch, first diffs: {diffs}")
        else:
            continue
        bad.append(name)
    return bad


# ------------------------------------------------------------------ run

def java_cmd(cp, args, jvm_opts=None, cds_log=None):
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    if cds_log:
        jvm_opts = jvm_opts + [f"-Xlog:cds=info:file={cds_log}"]
    return (["java", *opens, f"-Xmx{HEAP}", *jvm_opts,
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, "perfbench.Main", *args])


def cpu_times():
    """(idle + iowait, steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[3] + v[4], v[7], sum(v)


def host_state(cores):
    """Load average, CPU busy share over half a second and other running
    JVMs; a run started on a busy host is flagged as contended."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    idle0, _, total0 = cpu_times()
    time.sleep(0.5)
    idle1, _, total1 = cpu_times()
    busy = 1.0 - (idle1 - idle0) / max(1, total1 - total0)
    jvms = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0].decode(errors="replace")) == "java":
            jvms.append(int(pid))
    return {"loadavg": load, "busy_frac": round(busy, 3), "other_jvms": jvms,
            "cores": cores, "contended": bool(jvms) or busy > 0.25}


def batch_metrics(raw):
    """Attempted operations are each query's verify run plus every timed
    run."""
    samples = raw["samples"]
    ok = [s for s in samples if s["ok"]]
    walls = [s["s"] for s in ok]
    level, tail = stats.tail(walls)
    best_cpu = {}
    for s in ok:
        best_cpu[s["query"]] = min(s["cpu_s"], best_cpu.get(s["query"], s["cpu_s"]))
    failed = len(samples) - len(ok) + len(raw["verify_failed"])
    return {"pass_s": stats.median(raw["passes"]), "pass_cpu_s": sum(best_cpu.values()),
            "op_p50_s": stats.median(walls), "op_tail_s": tail}, \
        {"tail_level": level, "samples": len(ok)}, len(samples) + raw["queries"], failed


def sync_metrics(raw):
    acc = stats.lag_accounting(raw["generator"], raw["micro_batches"])
    lags = acc["lags"]
    level, tail = stats.tail(lags)
    backlog_chunks = len(raw["backlog_offsets"])
    drained = set()
    for mb in raw["drain_batches"]:
        drained.update(o for o in raw["backlog_offsets"]
                       if mb["start_offset"] < o <= mb["end_offset"])
    attempted = backlog_chunks + len(raw["generator"])
    failed = acc["missing"] + backlog_chunks - len(drained)
    extra = {"tail_level": level, "samples": len(lags),
             "backlog_max": acc["backlog_max"], "gen_late_s": acc["late_s"],
             "drain_updates_per_s": raw["backlog_updates"] / raw["drain_s"]}
    return {"pass_s": raw["drain_s"], "pass_cpu_s": raw["drain_cpu_s"],
            "op_p50_s": stats.median(lags), "op_tail_s": tail}, extra, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--feed", choices=("open", "closed"), default="open",
                    help="sync_stream only: closed feeds each batch when the last "
                         "one has committed, to measure the pipeline's capacity")
    a = ap.parse_args()
    started = time.time()

    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source {need} not found under {ROOT}")
    if not os.path.isdir(os.path.join(DATA, "sf0.1")):
        fail(f"test data not found under {DATA}")
    suite = unittest.defaultTestLoader.loadTestsFromName("test_stats")
    with open(os.devnull, "w") as quiet:
        if not unittest.TextTestRunner(stream=quiet).run(suite).wasSuccessful():
            fail("stats self-tests failed; run python3 perfbench/test_stats.py")

    os.makedirs(WORK, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cp, built = build(started + BUILD_LIMIT_S - 60, cores)
    check = load_check()
    spec = warm_oracles(check, cp, cores, built)
    limit = BUILD_LIMIT_S if built else RUN_LIMIT_S

    host = host_state(cores)
    if host["contended"]:
        log(f"host is contended: {host}")
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_log = os.path.join(work, "jvm.log")
    cds_log = os.path.join(work, "cds.log")
    _, steal0, total0 = cpu_times()
    rc = run_logged(java_cmd(cp, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--data", DATA, "--work", work, "--feed", a.feed],
        cds_log=cds_log), ROOT, jvm_log, started + limit - 15 - time.time())
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {rc})", 4)
    _, steal1, total1 = cpu_times()
    # CPU time the hypervisor gave to other guests while the run measured
    host["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    if host["steal_frac"] > 0.05:
        host["contended"] = True
        log(f"host is contended: {host['steal_frac']:.1%} of CPU time stolen during the run")
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    # the class-data-sharing archive cuts the cold set-up by seconds, so
    # every result says whether the JVM mapped it
    with open(cds_log) as f:
        host["cds_mapped"] = "Mapped dynamic region" in f.read()

    problems = []
    if a.workload == "sync_stream":
        e2e, extra, attempted, failed = sync_metrics(raw)
        if a.feed == "closed":
            extra["closed_loop_updates_per_s"] = stats.closed_loop_rate(
                raw["generator"], raw["micro_batches"], raw["params"]["batch_updates"])
            log(f"closed-loop capacity {extra['closed_loop_updates_per_s']:.0f} updates/s")
        m = raw["model"]
        if not (m["marks_ok"] and m["changes_ok"]):
            problems.append(f"stream differs from its model: {m}")
    else:
        bad = raw["verify_failed"] + compare_outputs(
            check, spec[a.workload], os.path.join(work, "out"))
        if bad:
            problems.append(f"outputs differ from their oracles: {bad}")
        if a.trace:
            extra = {}
            attempted, failed = raw["attempted"], raw["failed"]
            if raw["max_unaccounted_frac"] > 0.05:
                problems.append("construct + plan + exec leave more than 5% of a "
                                f"query's wall unaccounted: {raw['max_unaccounted_frac']}")
            if raw["unattributed_jobs"]:
                problems.append(f"{raw['unattributed_jobs']} jobs ran inside a traced "
                                "query but outside its construct, plan and exec spans")
        else:
            e2e, extra, attempted, failed = batch_metrics(raw)
    for k in raw["kernels"]:
        if not k["hash_match"]:
            problems.append(f"kernel {k['kernel']}: interpreted and generated outputs differ")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if a.trace:
        layers = dict(raw.get("layers") or {})
        if a.workload == "sync_stream":
            layers["stream.backlog_max"] = extra["backlog_max"]
            layers["gen.late_s"] = extra["gen_late_s"]
        for k in raw["kernels"]:
            layers[f"functions.{k['kernel']}.rows_per_s"] = k["rows_per_s"]
        # layers a workload bypasses read 0
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in declared["per_layer"]}
    else:
        e2e["setup_s"] = raw["setup"]["setup_s"]
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in declared["end_to_end"]}

    for p in problems:
        log(p)
    correct = not problems
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "correct": correct, "problems": problems, "metrics": metrics,
               "extra": extra, "peak_rss_mb": raw["peak_rss_mb"],
               "config": raw["config"], "host": host,
               "setup": raw["setup"], "wall_s": time.time() - started}
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    log(f"config {raw['config']} host {host}")
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
