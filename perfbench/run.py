#!/usr/bin/env python3
"""Runs one workload of graft's benchmark and prints its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record
    python3 perfbench/run.py --survey

Run from the repository root. On first use it builds graft and the harness
from source (sbt, offline) and writes the fixed input tables; both are kept
under .bench_build/ and rebuilt when their sources change. Each run starts
from an emptied scratch directory (the JVM's java.io.tmpdir, where graft
caches corpus artifacts), so every run pays the same set-up.

Before the last line it prints the run fingerprint and every metric with its
unit; the last line is one JSON object with the keys correct, attempted,
failed and metrics (the end_to_end metrics of BENCHMARK.json, or with
--trace 1 its per_layer metrics). It exits nonzero when an output check
fails.

--record re-records perfbench/expected.json (row count and content digest of
every entry the workloads run) from two runs of the current code; an entry
whose digest differs between them is checked by row count only.

--survey times one warm, traced call of every candidate entry (workloads.json,
"survey"), prints each one's per-layer figures and the entries the selection
criteria pick, and summarises the report and prep groups registry_mix runs.
"""
import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# A run must end within 180 s. The slowest runs seen on 4 cores took 120 s
# (registry_mix, traced) and 79 s (untraced); a traced run drops its last
# (bracketing) pass rather than run past RUN_BUDGET_S of JVM uptime.
RUN_LIMIT_S = 170
RUN_BUDGET_S = 150
BUILD_LIMIT_S = 800
HEAP = "3g"
ENTRY_WORKLOADS = ("registry_mix",)
# units of the figures printed beside BENCHMARK.json's metrics
INFO_UNITS = {"error_rate": "ratio", "latency_samples": "count",
              "latency_p50_samples": "count", "docs_per_s": "1/s",
              "bytes_per_doc": "bytes"}
WORKLOADS = ENTRY_WORKLOADS + ("stream_ingest",)

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_files(top, suffixes):
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x != "target")
        for f in sorted(files):
            if f.endswith(suffixes):
                yield os.path.join(d, f)


def source_stamp():
    """Hash of everything the build reads: graft's sources and build, and
    the harness's."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(top):
            paths += sorted(os.path.join(top, f) for f in os.listdir(top)
                            if f.endswith((".sbt", ".scala", ".properties")))
    paths += tree_files(os.path.join(ROOT, "src", "main"), (".scala", ".java"))
    paths += tree_files(os.path.join(HERE, "src"), (".scala", ".java"))
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build():
    """Compile graft (through its own root build) and the harness; return
    the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n")[:2]
        if saved_stamp == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building graft and the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export perfbench/Runtime/fullClasspath"],
                          BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL)
    text = out.decode("utf-8", "replace")
    sys.stderr.write(text)
    lines = [l for l in text.splitlines() if l.strip()]
    if code != 0 or not lines or os.pathsep not in lines[-1]:
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def data_dir():
    """The fixed input tables, written once per generator version."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(BUILD, f"data-{tag}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), tmp], check=True)
        os.rename(tmp, out)
    return out


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def harness(cp, data, workload, seed, seconds, trace, limit_s, record=None):
    """Run the harness JVM once; return (exit code, its last stdout line)."""
    scratch = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap: a growing one makes early passes pay for heap resizing
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the root build's dev-only conf passthrough; the fingerprint lists it
    cmd += shlex.split(os.environ.get("SPARK_GRAFT_EXTRA_OPTS", ""))
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--data", data,
            "--spec", os.path.join(HERE, "workloads.json"),
            "--expected", os.path.join(HERE, "expected.json"),
            "--cores", str(cores()), "--scratch", scratch,
            "--traces", os.path.join(BUILD, "traces"), "--commit", commit(),
            "--budget", str(RUN_BUDGET_S)]
    if record:
        cmd += ["--record", record]
    code, out = run_group(cmd, limit_s, cwd=scratch, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL)
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
    shutil.rmtree(scratch, ignore_errors=True)
    return code, (lines[-1] if lines else "")


def record(cp, data):
    entries, unstable = {}, []
    for w in ENTRY_WORKLOADS:
        runs = []
        for i in range(2):
            out = os.path.join(BUILD, f"record-{w}-{i}.json")
            code, _ = harness(cp, data, w, 0, 0, 0, 900, record=out)
            if code != 0:
                raise SystemExit(f"[perfbench] recording {w} failed")
            with open(out) as f:
                runs.append(json.load(f)["entries"])
        for name, a in runs[0].items():
            b = runs[1][name]
            if a["rows"] != b["rows"]:
                raise SystemExit(f"[perfbench] {name}: row count differs between runs")
            entries[name] = {"rows": a["rows"]}
            if a["digest"] == b["digest"]:
                entries[name]["digest"] = a["digest"]
            else:
                unstable.append(name)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"row_count_only": sorted(unstable),
                   "entries": dict(sorted(entries.items()))}, f, indent=1)
        f.write("\n")
    log(f"recorded {len(entries)} entries; row count only: {sorted(unstable)}")


REPORT_PICKS = 8
SURVEY_COLUMNS = ("latency_s", "construct.s", "construct.share", "construct.jobs", "catalyst.plan_s",
                  "scheduler.jobs", "scheduler.job_s", "exec.s", "exec.task_cpu_s",
                  "exec.shuffle_write_mb", "trace.op_self_s")


def survey(cp, data):
    out = os.path.join(BUILD, "survey.json")
    code, _ = harness(cp, data, "survey", 0, 0, 0, 1800, record=out)
    if code != 0:
        raise SystemExit("[perfbench] the survey failed")
    with open(out) as f:
        entries = json.load(f)["entries"]
    print("entry " + " ".join(SURVEY_COLUMNS))
    for name, m in sorted(entries.items(), key=lambda e: (e[0].split("_")[0], e[1]["latency_s"])):
        print(name + " " + " ".join(f"{m[c]:.4g}" for c in SURVEY_COLUMNS))
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    prep = set(spec["survey"]["prep"])
    # report entries: the middle entry of each of REPORT_PICKS equal-count
    # latency strata, so the picks span the endpoints' latency range
    ranked = sorted((n for n in entries if n not in prep), key=lambda n: entries[n]["latency_s"])
    picks = [ranked[int((i + 0.5) * len(ranked) / REPORT_PICKS)] for i in range(REPORT_PICKS)]
    # prep entries: per module, the one whose time is most driver-side
    # construction (rounds of small jobs, which fewer-larger-jobs work cuts)
    for module in ("ann_", "graph_", "text_", "dedup_"):
        picks.append(max((n for n in prep if n.startswith(module)),
                         key=lambda n: entries[n]["construct.share"]))
    print("# picks by the survey criteria: " + " ".join(sorted(picks)))
    for group, names in (("report", spec["registry_mix"]["report"]),
                         ("prep", spec["registry_mix"]["prep"]),
                         ("all report endpoints", ranked)):
        ms = [entries[n] for n in names]
        lat = sum(m["latency_s"] for m in ms)
        print(f"# {group} ({len(ms)}): median latency "
              f"{statistics.median(m['latency_s'] for m in ms):.3f} s, construction "
              f"{sum(m['construct.s'] for m in ms) / lat:.2f} of the time, task CPU "
              f"{sum(m['exec.task_cpu_s'] for m in ms) / lat:.2f} of the time (across "
              f"{cores()} cores), {sum(m['scheduler.jobs'] for m in ms) / len(ms):.1f} jobs and "
              f"{sum(m['exec.shuffle_write_mb'] for m in ms) / len(ms):.3f} MB shuffle a call")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--survey", action="store_true")
    a = ap.parse_args()
    if not (a.record or a.survey or a.workload):
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("graft's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
        return 2

    cp = build()
    data = data_dir()
    if a.record:
        record(cp, data)
        return 0
    if a.survey:
        survey(cp, data)
        return 0

    try:
        code, last = harness(cp, data, a.workload, a.seed, a.seconds, a.trace, RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        log(f"the harness ran past {RUN_LIMIT_S} s and was stopped")
        return 3
    try:
        res = json.loads(last)
    except ValueError:
        log(f"the harness printed no result (exit code {code})")
        return code or 4

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = dict(INFO_UNITS, **{m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]})
    print("# fingerprint " + json.dumps(res["fingerprint"], sort_keys=True))
    for p in res["problems"]:
        print(f"# check failed: {p}")
    for name, value in res["metrics"].items():
        print(f"# {name} {value} {units[name]}")
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in wanted if n not in res["metrics"]]
    if missing:
        log(f"the harness did not report {missing}")
        return 4
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {n: {"value": res["metrics"][n], "unit": units[n]} for n in wanted}}))
    return code


if __name__ == "__main__":
    sys.exit(main())
