#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload light --seed 1 --seconds 15 --trace 0

It builds the engine from the checkout's sources (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py), runs one JVM with Spark
`local[<nproc>]` and a single client submitting the workload's operations
back to back, checks every output, and prints the metrics as the last line
of standard output. `--trace 1` runs the same workload with listeners on
and prints the per-layer metrics instead. See perfbench/README.md.

Other modes: `--smoke` runs every workload once at sf0.001 and checks that
every metric is printed; `--record-digests` rewrites perfbench/digests.json
from the current tree.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402

SF = 0.01
SMOKE_SF = 0.001
WORD = "the"
CORPUS_MB = 16
# one 16 MB read is mostly job overhead, so the letter count reads the
# corpus this many times in one job: 128 MB in eight tasks, two per core,
# so a stall on one core does not hold the whole job up
LETTER_COPIES = 8
# both text jobs' MB/s are stamped, not gated; the letter count, the
# reference throughput, gets more rounds
LETTER_ROUNDS = 6
WORD_ROUNDS = 2
PASS_S = 5.0  # nominal warm pass; passes = max(2, round(seconds / PASS_S))
BUILD_DIR = ".bench_build"
DEADLINE_S = 170
FIRST_DEADLINE_S = 880

WORKLOADS = {
    # Per-query overhead before execution: one cheap query from each of the
    # nine registry families plus q241, whose wall is almost all eager
    # construction jobs. Construction and planning are about half of a warm
    # pass, and execution leaves the cores mostly idle (perfbench/README.md).
    # Its small queries still speed up over the first warm passes, which
    # moved the warm median between runs, so one untimed warm-up pass
    # follows the cold pass.
    "light": dict(warmup=1, queries=[
        "q19_sort_limit", "q26_word_finder", "q32_simhash", "q35_ann_bruteforce",
        "q55_image_decode", "q80_funnel", "q301_mcnemar", "q266_priority_sample",
        "q267_degree_assortativity", "q241_funnel"]),
    # Execution: two execution-bound operators (an edit-distance similarity
    # join and co-occurrence counting) plus a standing-index query over a
    # staged dataset whose fixture store starts empty, so the cold pass
    # builds the index and warm passes only probe it.
    "dense": dict(stage=True, queries=[
        "q121_fuzzy_join_ed1", "q185_cooccur_recs", "q230_ann_ivfpq"]),
}

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("latency_p50_s", "s"), ("heap_peak_mb", "MB"),
]
PER_LAYER = [
    ("tables.resolve_ms", "ms"), ("tables.resolve_jobs", "count"),
    ("registry.construct_s", "s"), ("registry.construct_jobs", "count"),
    ("registry.construct_tasks", "count"), ("registry.construct_cpu_s", "s"),
    ("registry.construct_share", "fraction"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.input_mb", "MB"), ("exec.failed_tasks", "count"),
    ("exec.idle_core_frac", "fraction"), ("exec.task_skew", "ratio"),
    ("exec.stages_skipped_frac", "fraction"),
    ("textjobs.letter_count_s", "s"), ("textjobs.word_find_s", "s"),
    ("textjobs.tasks", "count"), ("textjobs.cpu_s", "s"),
    ("fixtures.build_s", "s"), ("fixtures.write_mb", "MB"),
    ("fixtures.write_amp", "ratio"), ("fixtures.read_mb", "MB"),
    ("driver.gc_s", "s"), ("trace.gap_s", "s"), ("trace.overhead_s", "s"),
]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap():
    """Heap as the repository's tier-1 command sizes it: half of RAM, 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr.splitlines() or ["?"])[0]


def has_private_tmp():
    """True if the JVM can get a private /tmp (user + mount namespace)."""
    try:
        r = subprocess.run(["unshare", "--user", "--map-root-user", "--mount", "true"],
                           capture_output=True, timeout=10)
        return r.returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def run_jvm(root, cp, cfg, work, deadline, private_tmp):
    """Run PerfBench once with `cfg`; return its result dict.

    With a private /tmp available the JVM runs in its own mount namespace
    whose /tmp is a directory of the checkout, so everything the engine
    writes under /tmp (its fixture store included) stays in the checkout.
    """
    os.makedirs(work, exist_ok=True)
    cfg_path, res_path = os.path.join(work, "config.json"), os.path.join(work, "result.json")
    cfg["launch_ms"] = int(time.time() * 1000)
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    java = (["java", f"-Xmx{driver_heap()}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')}"]
            + build.engine_java_options(root)
            + ["-cp", os.pathsep.join(cp + [build.classpath(root)]),
               "graft.perfbench.PerfBench", cfg_path, res_path])
    os.makedirs(os.path.join(work, "jtmp"), exist_ok=True)
    if private_tmp:
        tmp = os.path.abspath(os.path.join(root, BUILD_DIR, "tmp"))
        os.makedirs(tmp, exist_ok=True)
        java = ["unshare", "--user", "--map-root-user", "--mount", "sh", "-c",
                'mount --bind "$0" /tmp && exec "$@"', tmp] + java
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(java, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)

        def stop(signum=None, frame=None):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if signum is not None:
                sys.exit(128 + signum)

        # the JVM has its own session: take it down with this process
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop()
            fail(f"JVM exceeded the run deadline; log in {work}/jvm.log", 3)
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
                signal.signal(sig, signal.SIG_DFL)
    if p.returncode != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"JVM exited with {p.returncode}", 3)
    with open(res_path) as f:
        return json.load(f)


def ensure_tables(root, sf):
    """The generated tables, in a directory named after the generator's
    digest: a changed generator gets a new directory, and with it a fixture
    namespace of its own."""
    key = build.digest([os.path.join(HERE, "gen.py")])
    d = os.path.join(root, BUILD_DIR, "data", f"sf{sf}-{key}")
    if not os.path.exists(os.path.join(d, "_generated")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_tables(d, sf)
        open(os.path.join(d, "_generated"), "w").close()
    return d


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100.0, n
    k = n - 11
    return xs[k], round(100.0 * (k + 1) / n, 2), n


def end_to_end(res, corpus_bytes):
    passes = res["passes"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]] or \
        [p for p in passes if p["kind"] == "warm"]
    lat = [o["wall_s"] for p in warm for o in p["ops"]]
    # a typical warm pass: each query at its median over the warm passes,
    # so one slow pass moves no query's figure
    per_query = {}
    for p in warm:
        for o in p["ops"]:
            per_query.setdefault(o["op"], []).append(o["wall_s"])
    heap = [p["heap_live_mb"] for p in passes] + \
        [v["heap_live_mb"] for v in res["verify"].values()]
    tval, tpct, tn = tail(lat)

    def mbs(op, copies):
        """Bytes scanned over the fastest round: a whole-file scan is only
        ever slowed by contention, so the best round is the steady one."""
        ts = [o["wall_s"] for o in res["text_block"] if o["op"] == op]
        return (copies * corpus_bytes / 1e6 / min(ts), len(ts)) if ts else (0.0, 0)

    lc, lcn = mbs("letter_count", LETTER_COPIES)
    wf, wfn = mbs("word_find", 1)
    m = {
        "setup_s": (res["boot_s"] + res["setup_s"], 1),
        "cold_pass_s": (passes[0]["wall_s"], 1),
        "warm_pass_s": (sum(median(v) for v in per_query.values()), len(warm)),
        "latency_p50_s": (median(lat), len(lat)),
        "heap_peak_mb": (max(heap), len(heap)),
    }
    return m, {"latency_tail_s": tval, "latency_tail_percentile": tpct,
               "latency_tail_samples": tn, "letter_count_mb_s": lc, "letter_count_rounds": lcn,
               "word_find_mb_s": wf, "word_find_rounds": wfn}


def per_layer(res, cores):
    passes = res["passes"]
    cold = passes[0]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    plain = [p for p in passes if p["kind"] == "warm" and not p["traced"]]

    def c(o, side, k):
        return o.get(side, {}).get(k, 0)

    def per_pass(f):
        """Median over traced warm passes of a per-pass value."""
        return median([f(p) for p in traced]), len(traced)

    def qsum(p, f):
        return sum(f(o) for o in p["ops"])

    def ph(o, k):
        return o.get("phases", {}).get(k, 0.0)

    def plan(o):
        return ph(o, "analysis") + ph(o, "optimization") + ph(o, "planning")

    def exec_s(p):
        return sum(o["sink_s"] - plan(o) for o in p["ops"])

    def esum(p, k):
        return sum(c(o, "execute", k) for o in p["ops"])

    def idle(p):
        busy = esum(p, "task_ms") / 1e3
        return 1.0 - busy / max(exec_s(p) * cores, 1e-9)

    def skew(p):
        s = [c(o, "execute", "longest_stage_skew") for o in p["ops"]
             if c(o, "execute", "tasks") > 0]
        return median(s)

    def skipped(p):
        run, skip = esum(p, "stages"), esum(p, "stages_skipped")
        return skip / max(run + skip, 1)

    calls = res.get("resolve", {}).get("calls", [])
    per_round = {}
    for x in calls:
        per_round[x["round"]] = per_round.get(x["round"], 0) + x["jobs"]

    warm_q = {}
    for p in traced + plain:
        for o in p["ops"]:
            warm_q.setdefault(o["op"], []).append(o["wall_s"])
    # queries whose cold run wrote fixture bytes: their cold - warm is the build
    builders = [o for o in cold["ops"]
                if c(o, "construct", "output_b") + c(o, "execute", "output_b") > 0]
    build_s = sum(max(0.0, o["wall_s"] - median(warm_q.get(o["op"], [o["wall_s"]])))
                  for o in builders)
    fx = res["fixtures"]
    block = res["text_block"]

    def text(op, f):
        """Median over the text block's rounds of `op`."""
        return median([f(o) for o in block if o["op"] == op]), \
            sum(o["op"] == op for o in block)

    def text_both(f):
        (a, n), (b, k) = text("letter_count", f), text("word_find", f)
        return a + b, min(n, k)

    n_ops = max(1, len(traced[0]["ops"])) if traced else 1
    m = {
        "tables.resolve_ms": (median([x["ms"] for x in calls]), len(calls)),
        "tables.resolve_jobs": (median(list(per_round.values())), len(per_round)),
        "registry.construct_s": per_pass(lambda p: qsum(p, lambda o: o["construct_s"])),
        "registry.construct_jobs": per_pass(lambda p: qsum(p, lambda o: c(o, "construct", "jobs"))),
        "registry.construct_tasks": per_pass(lambda p: qsum(p, lambda o: c(o, "construct", "tasks"))),
        "registry.construct_cpu_s": per_pass(lambda p: qsum(p, lambda o: c(o, "construct", "cpu_s"))),
        "registry.construct_share": per_pass(
            lambda p: qsum(p, lambda o: o["construct_s"]) / p["wall_s"]),
        "plans.analysis_s": per_pass(lambda p: qsum(p, lambda o: ph(o, "analysis"))),
        "plans.optimization_s": per_pass(lambda p: qsum(p, lambda o: ph(o, "optimization"))),
        "plans.planning_s": per_pass(lambda p: qsum(p, lambda o: ph(o, "planning"))),
        "exec.s": per_pass(exec_s),
        "exec.jobs": per_pass(lambda p: esum(p, "jobs")),
        "exec.stages": per_pass(lambda p: esum(p, "stages")),
        "exec.tasks": per_pass(lambda p: esum(p, "tasks")),
        "exec.cpu_s": per_pass(lambda p: esum(p, "cpu_s")),
        "exec.gc_s": per_pass(lambda p: esum(p, "gc_s")),
        "exec.shuffle_write_mb": per_pass(lambda p: esum(p, "shuffle_write_b") / 1e6),
        "exec.shuffle_read_mb": per_pass(lambda p: esum(p, "shuffle_read_b") / 1e6),
        "exec.spill_mb": per_pass(lambda p: esum(p, "spill_b") / 1e6),
        "exec.input_mb": per_pass(lambda p: esum(p, "input_b") / 1e6),
        "exec.failed_tasks": per_pass(lambda p: esum(p, "failed_tasks")),
        "exec.idle_core_frac": per_pass(idle),
        "exec.task_skew": per_pass(skew),
        "exec.stages_skipped_frac": per_pass(skipped),
        "textjobs.letter_count_s": text("letter_count", lambda o: o["wall_s"]),
        "textjobs.word_find_s": text("word_find", lambda o: o["wall_s"]),
        "textjobs.tasks": text_both(lambda o: c(o, "execute", "tasks")),
        "textjobs.cpu_s": text_both(lambda o: c(o, "execute", "cpu_s")),
        "fixtures.build_s": (build_s, len(builders)),
        "fixtures.write_mb": (sum(c(o, s, "output_b") for o in cold["ops"]
                                  for s in ("construct", "execute")) / 1e6, 1),
        "fixtures.write_amp": (fx["bytes_after_cold"] / max(1, fx["dataset_bytes"]), 1),
        "fixtures.read_mb": per_pass(lambda p: qsum(
            p, lambda o: c(o, "construct", "input_b") + c(o, "execute", "input_b")) / 1e6 / n_ops),
        "driver.gc_s": per_pass(lambda p: p["driver_gc_s"]),
        "trace.gap_s": per_pass(lambda p: p["wall_s"] - sum(o["wall_s"] for o in p["ops"])),
        "trace.overhead_s": (median([p["wall_s"] for p in traced])
                             - median([p["wall_s"] for p in plain]),
                             len(traced) + len(plain)),
    }
    return m


def op_problem(o, key):
    """Why one timed operation failed, or None."""
    if o["err"]:
        return o["err"]
    if o["op"] == "letter_count" and o["letters"] != {
            k: LETTER_COPIES * v for k, v in key["letters"].items()}:
        return "letter counts differ from the answer key"
    if o["op"] == "word_find" and (o.get("word_lines"), o.get("word_sha256")) != (
            key["word_lines"], key["word_sha256"]):
        return "word-find output differs from the answer key"
    return None


def check(res, digests, key, staged):
    """Attempted operations and the problems found. A problem is an
    exception, a text-job result that differs from the answer key, a result
    digest that differs from the recorded one, or a run whose fixture store
    did not behave as the workload requires."""
    ops = [(f"pass {p['kind']}", o) for p in res["passes"] for o in p["ops"]] + \
        [("text block", o) for o in res["text_block"]]
    problems = [f"{where} {o['op']}: {bad}" for where, o in ops
                for bad in [op_problem(o, key)] if bad]
    for q, v in sorted(res["verify"].items()):
        want = v.get("sha256") if digests is None else digests.get(q)
        if "err" in v or v["sha256"] != want:
            problems.append(f"verify {q}: {v.get('err') or v['sha256']} != recorded {want}")
    fx = res["fixtures"]
    runs = [fx["bytes_after"] == (fx["bytes_after_cold"] if staged else fx["bytes_before"])
            or "fixtures were built inside the warm passes: run invalid"]
    if staged:
        runs.append(fx["bytes_after_cold"] > fx["bytes_before"]
                    or "the cold pass wrote 0 fixture bytes: run invalid")
    problems += [r for r in runs if r is not True]
    return len(ops) + len(res["verify"]) + len(runs), problems


def load_digests():
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f)["queries"]


def jvm_config(workload, data, work, **over):
    """PerfBench's configuration; by default a verification-only run."""
    wl = WORKLOADS[workload]
    cfg = dict(workload=workload, data=os.path.abspath(data), queries=wl["queries"], seed=1,
               trace=False, cores=nproc(), mode="verify", warmup_passes=0, warm_passes=0,
               fresh_fixtures=False, corpus=None, letter_copies=LETTER_COPIES, word=WORD,
               letter_reps=0, word_reps=0,
               work_dir=os.path.abspath(work))
    cfg.update(over)
    return cfg


def prepare(root, sf):
    """Build the engine and the driver, and generate the fixed tables."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(root, "build.sbt")):
        fail("run from the root of a graft checkout (src/main/scala and build.sbt missing)")
    key, cp = build.build(root, os.path.join(root, BUILD_DIR, "classes"))
    return key, cp, ensure_tables(root, sf)


def run_workload(root, cp, build_key, data, workload, seed, seconds, trace, sf,
                 private_tmp, deadline, digests=None):
    """One run: returns (result line dict, full record dict)."""
    wl = WORKLOADS[workload]
    cores = nproc()
    source = data
    work = os.path.join(root, BUILD_DIR, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    staged = bool(wl.get("stage"))
    if staged:
        # a staged copy of the dataset: its fixture namespace starts empty
        stage = os.path.join(root, BUILD_DIR, "stage", f"sf{sf}")
        shutil.rmtree(stage, ignore_errors=True)
        shutil.copytree(data, stage)
        data = stage
    else:
        # the fixtures depend on the engine (cp[-1] is its build) and the data
        tag = hashlib.sha256(os.path.abspath(data).encode()).hexdigest()[:12]
        marker = os.path.join(root, BUILD_DIR,
                              f"fixtures-{workload}-{tag}-{os.path.basename(cp[-1])}")
        if not os.path.exists(marker):
            # first run of this engine build on this data: build the
            # workload's fixtures untimed
            run_jvm(root, cp, jvm_config(workload, data, work),
                    os.path.join(work, "prebuild"), deadline, private_tmp)
            open(marker, "w").close()
    corpus = os.path.abspath(os.path.join(work, "corpus.txt"))
    key = gen.write_corpus(corpus, seed, CORPUS_MB if sf == SF else 2, WORD)
    passes = max(2, round(seconds / PASS_S))
    cfg = jvm_config(workload, data, work, seed=seed, trace=bool(trace), mode="measure",
                     warmup_passes=wl.get("warmup", 0),
                     warm_passes=max(4, passes) if trace else passes,
                     fresh_fixtures=staged, corpus=corpus,
                     letter_reps=LETTER_ROUNDS, word_reps=WORD_ROUNDS)
    load = [os.getloadavg()[0]]
    res = run_jvm(root, cp, cfg, os.path.join(work, "run"), deadline, private_tmp)
    load.append(os.getloadavg()[0])
    if staged:
        shutil.rmtree(os.path.join(root, BUILD_DIR, "stage"), ignore_errors=True)

    attempted, problems = check(res, digests, key, staged)
    failed = len(problems)
    for p in problems:
        sys.stderr.write(f"perfbench: {p}\n")
    e2e, tail_info = end_to_end(res, key["bytes"])
    metrics = per_layer(res, cores) if trace else e2e
    units = dict(PER_LAYER if trace else END_TO_END)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, (v, _) in metrics.items()}}
    record = {
        "stamp": {"nproc": cores, "master": f"local[{cores}]", "heap": driver_heap(),
                  "jvm": java_version(), "commit": git_commit(root), "build": build_key,
                  "seed": seed, "workload": workload, "sf": sf, "data": source, "trace": trace,
                  "seconds": seconds, "load1_before": load[0], "load1_after": load[1],
                  "private_tmp": private_tmp, "error_rate": failed / max(1, attempted),
                  "samples": {n: k for n, (_, k) in metrics.items()}, **tail_info},
        "problems": problems,
        **line,
        "result": res,
    }
    shutil.rmtree(work, ignore_errors=True)
    return line, record


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the stamped record (JSON) here")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--data", help="run on this dataset directory instead of the generated "
                    "tables; result digests are then not checked")
    a = ap.parse_args()
    root = os.getcwd()
    start = time.time()
    private_tmp = has_private_tmp()

    if a.record_digests:
        build_key, cp, data = prepare(root, SF)
        digests = {}
        for name, wl in WORKLOADS.items():
            work = os.path.join(root, BUILD_DIR, "work", name)
            for attempt in (1, 2):
                res = run_jvm(root, cp, jvm_config(name, data, work), work,
                              time.time() + 1200, private_tmp)
                for q, v in res["verify"].items():
                    if "err" in v:
                        fail(f"{q}: {v['err']}")
                    if digests.setdefault(q, v["sha256"]) != v["sha256"]:
                        fail(f"{q}: result differs between two runs")
        with open(os.path.join(HERE, "digests.json"), "w") as f:
            json.dump({"sf": SF, "queries": dict(sorted(digests.items()))}, f, indent=1)
            f.write("\n")
        print(json.dumps({"recorded": len(digests)}))
        return

    if a.smoke:
        build_key, cp, data = prepare(root, SMOKE_SF)
        ok = True
        for name in sorted(WORKLOADS):
            for trace in (0, 1):
                line, rec = run_workload(root, cp, build_key, data, name, a.seed, 0, trace,
                                         SMOKE_SF, private_tmp, time.time() + 600)
                names = PER_LAYER if trace else END_TO_END
                for n, unit in names:
                    m = line["metrics"].get(n)
                    k = rec["stamp"]["samples"].get(n)
                    good = m is not None and m["unit"] == unit and k is not None
                    ok &= good
                    print(f"{name:7s} trace={trace} {n:28s} {m and m['value']!s:>22} "
                          f"{unit:9s} n={k} {'ok' if good else 'MISSING'}")
                ok &= line["failed"] == 0
                print(f"{name:7s} trace={trace} attempted={line['attempted']} "
                      f"failed={line['failed']} private_tmp={private_tmp}")
        print(json.dumps({"smoke": "pass" if ok else "fail"}))
        sys.exit(0 if ok else 1)

    if not a.workload:
        fail("--workload is required")
    first = not os.path.exists(os.path.join(root, BUILD_DIR, "classes"))
    build_key, cp, data = prepare(root, SF)
    digests = load_digests()
    if a.data:
        data, digests = os.path.abspath(a.data), None
    line, rec = run_workload(root, cp, build_key, data, a.workload, a.seed, a.seconds, a.trace,
                             SF, private_tmp, start + (FIRST_DEADLINE_S if first else DEADLINE_S),
                             digests)
    rec["stamp"]["run_wall_s"] = time.time() - start
    print(json.dumps({"stamp": rec["stamp"]}))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(rec, f, indent=1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
