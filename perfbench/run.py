#!/usr/bin/env python3
"""graft benchmark runner.

Run one workload from the root of a checkout:

    python3 perfbench/run.py --workload pay-olap --seed 1 --seconds 10 --trace 0

The first run builds the library together with the harness (sbt,
offline) and generates the input data under the build directory; later
runs reuse both until a source file changes. The last line of stdout is
the JSON result; lines starting with '#' are the human-readable report.

    python3 perfbench/run.py --smoke           # self-test, every workload
    python3 perfbench/run.py --record pay-olap --seed 0
                                               # regenerate a reference file
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["pay-olap", "corpus-curate", "pay-stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same
# list the library's build.sbt passes to its forked JVMs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def heap():
    """Driver heap: half the host memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles library + harness when a source changed; returns the classpath."""
    program = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(program) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not in this "
             "directory; run from the root of a graft checkout")
    # the harness builds through the root build (RootProject), so the
    # root build definition is part of the stamp too; project/ is read
    # one level deep, which skips sbt's own target directories there
    root_project = os.path.join(ROOT, "project")
    root_defs = [os.path.join(root_project, f) for f in sorted(os.listdir(root_project))
                 if os.path.isfile(os.path.join(root_project, f))] \
        if os.path.isdir(root_project) else []
    stamp = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                       *root_defs, os.path.join(BENCH, "src"),
                       os.path.join(BENCH, "build.sbt"),
                       os.path.join(BENCH, "project", "build.properties")])
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's own state and temp files inside the checkout
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true",
                "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
                f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
                f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy')}", "-J-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    print("# building library + harness (sbt)", flush=True)
    t0 = time.time()
    rc, out = run_group(["sbt", "--batch", *sbt_opts, "compile",
                         "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                        cwd=BENCH, env=env, stdout=subprocess.PIPE,
                        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        sys.stderr.write(out or "")
        fail("build failed" if rc is not None else "build timed out")
    cp = [l for l in out.splitlines() if "sbt-target" in l and not l.startswith("[")]
    if not cp:
        sys.stderr.write(out)
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return cp[-1].strip()


def java(cp, args, timeout, work):
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    # a fixed heap size and a pinned young generation: G1 never resizes
    # either, so peak RSS follows what the program retains. A heap
    # expansion moves new young regions onto fresh pages, and whether
    # G1 expanded in a run moved peak RSS by up to 1 GB.
    cmd = ["java", *ADD_OPENS, f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn1g",
           "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           f"-Dderby.system.home={work}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
           "-cp", cp, "graftbench.Main", *args]
    # few malloc arenas: native buffers (parquet, compression, netty)
    # otherwise spread over per-thread arenas and make RSS vary by run
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    return run_group(cmd, timeout, cwd=work, env=env, stdout=subprocess.PIPE,
                     stdin=subprocess.DEVNULL, text=True)


def data_dir(cp):
    """Generated inputs, keyed by the generator's source."""
    key = tree_hash([os.path.join(BENCH, "src", "main", "scala", "graftbench", "Data.scala")])
    d = os.path.join(BUILD, f"data-{key}")
    if not os.path.isfile(os.path.join(d, "READY")):
        shutil.rmtree(d, ignore_errors=True)
        work = fresh_work("prepare")
        print("# generating inputs", flush=True)
        rc, out = java(cp, ["--prepare", "--data-dir", d, "--work-dir", work], 600, work)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            sys.stderr.write(out or "")
            fail("input generation failed")
        open(os.path.join(d, "READY"), "w").close()
    return d


def fresh_work(tag):
    w = os.path.join(BUILD, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(w, ignore_errors=True)
    os.makedirs(w)
    return w


def run(workload, seed, seconds, trace, record=None, echo=True):
    """One benchmark run; returns (result dict or None, stdout text)."""
    cp = build()
    data = data_dir(cp)
    work = fresh_work(workload)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--bench-dir", BENCH, "--work-dir", work,
            "--data-dir", data, "--trace-dir", os.path.join(BUILD, "traces")]
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    if record:
        args += ["--record", os.path.abspath(record)]
    try:
        rc, out = java(cp, args, RUN_TIMEOUT_S, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if echo and out:
        lines = out.rstrip("\n").splitlines()
        sys.stdout.write("".join(l + "\n" for l in lines if l.startswith("#")))
    if rc != 0:
        return None, out or ""
    last = (out or "").rstrip("\n").splitlines()[-1:]
    try:
        return json.loads(last[0]), out
    except (IndexError, ValueError):
        return None, out


def smoke():
    """Self-test: every workload briefly, untraced and traced; every
    metric of BENCHMARK.json must print with its unit, and every output
    check must pass. corpus-curate traced prints its own op kinds, so
    only its untraced run is compared."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    # corpus-curate is not in BENCHMARK.json; its untraced run is checked too
    runs = [(x["name"], t) for x in spec["workloads"] for t in (0, 1)] + [("corpus-curate", 0)]
    for w, trace in runs:
        names = spec["end_to_end"] if trace == 0 else spec["per_layer"]
        res, out = run(w, 1, 2, trace, echo=False)
        if res is None:
            print(f"FAIL {w} trace={trace}: no result\n{out[-3000:]}")
            ok = False
            continue
        want = {m["name"]: m["unit"] for m in names}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        problems = [f"{k} missing" for k in want if k not in got]
        problems += [f"{k} unit {got[k]} != {u}" for k, u in want.items()
                     if k in got and got[k] != u]
        problems += [f"{k} not in BENCHMARK.json" for k in got if k not in want]
        if not res["correct"] or res["failed"]:
            problems.append(f"output checks failed ({res['failed']} of {res['attempted']})")
        print(f"{'ok  ' if not problems else 'FAIL'} {w} trace={trace}: "
              f"{len(got)} metrics, {res['attempted']} checked" +
              "".join(f"\n     {p}" for p in problems), flush=True)
        ok &= not problems
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", choices=["pay-olap", "corpus-curate"],
                    help="run every op key once and write the observed digests")
    a = ap.parse_args()
    if a.smoke:
        smoke()
    if a.record:
        os.makedirs(BUILD, exist_ok=True)
        out = os.path.join(BUILD, f"{a.record}-{a.seed}.observed.json")
        res, text = run(a.record, a.seed, 0, 0, record=out)
        print(f"# observed digests written to {out}")
        sys.exit(0 if res is not None else 1)
    if not a.workload:
        ap.error("--workload is required")
    res, text = run(a.workload, a.seed, a.seconds, a.trace)
    if res is None:
        sys.stderr.write(text[-5000:])
        fail("the run produced no result")
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
