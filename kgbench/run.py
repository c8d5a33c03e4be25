#!/usr/bin/env python3
"""kgbench: the benchmark of record for the graft knowledge-graph engine.

    python3 kgbench/run.py --workload build_cold --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from the checkout's sources (see build.py),
generates the workload's input from --seed (gen.py), runs it, checks the
outputs against the DuckDB oracles (checks.py) and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (metrics.py). Progress and
child logs go to stderr. See README.md beside this file.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CPUS = max(1, min(8, len(os.sched_getaffinity(0))))
DRIVER_MEM = "3g"
CHILD_TIMEOUT_S = 170

# Conversations per workload; README.md says why each is sized as it is.
CONVS = {"build_cold": 6000, "serve_mix": 2000}
# serve_mix serves one fixed corpus (its request stream comes from --seed);
# its graph is built and committed once per program build, see served_graph
SERVE_CORPUS_SEED = 0
# Main launches per build_cold run that stop at their first Spark job, to
# sample set-up time beside the timed build's own; one more would cost a run
# about 9 s, which the time budget of a round does not leave
SETUP_PROBES = 1

_children = []


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def _kill_children(*_):
    for p in list(_children):
        try:
            os.killpg(p, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass


def run_child(cmd, env, cwd, log_path):
    """Run `cmd` in its own process group and wait for it.

    Returns (exit code, wall seconds from launch to exit, CPU seconds,
    peak RSS in MB, launch time as epoch seconds)."""
    with open(log_path, "ab") as fh:
        launch = time.time()
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        _children.append(p.pid)
        timer = threading.Timer(CHILD_TIMEOUT_S, lambda: _kill_children())
        timer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        try:
            os.killpg(p.pid, signal.SIGKILL)  # anything the child left behind
        except (ProcessLookupError, PermissionError):
            pass
        _children.remove(p.pid)
    cpu = ru.ru_utime + ru.ru_stime
    log(f"child exit {p.returncode}: wall {wall:.2f} s, cpu {cpu:.2f} s")
    return p.returncode, wall, cpu, ru.ru_maxrss / 1024.0, launch


class Run:
    """One benchmark run: its work directory, jar and child-process setup."""

    def __init__(self, args, jar, work):
        self.args = args
        self.jar = jar
        self.work = work
        self.log_path = os.path.join(work, "children.log")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS),
                        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        self.failures = []
        self.attempted = 0
        self.failed = 0

    def count(self, fails, ops=1):
        """Record `ops` attempted operations or checks; `fails` lists what
        went wrong with them (empty when they all passed)."""
        self.attempted += ops
        if fails:
            self.failed += min(ops, len(fails))
            self.failures += fails

    def submit(self, cls, *args, conf=()):
        """spark-submit `cls` from the benchmark jar, as production launches
        Main; `conf` adds `key=value` Spark settings."""
        cmd = [os.path.join(build.spark_home(), "bin", "spark-submit"),
               "--master", f"local[{CPUS}]", "--driver-memory", DRIVER_MEM,
               "--conf", "spark.ui.enabled=false",
               *[a for kv in conf for a in ("--conf", kv)],
               "--driver-java-options", f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
               "--class", cls, self.jar, *args]
        rc, wall, cpu, rss, launch = run_child(cmd, self.env, self.work, self.log_path)
        self.count([f"{cls} {args[:1]} exited {rc}"] if rc != 0 else [])
        if rc != 0:
            log(f"{cls} exited {rc}; last log lines:\n" + self.log_tail())
        return rc, wall, cpu, rss, launch

    def log_tail(self, n=30):
        try:
            with open(self.log_path, errors="replace") as fh:
                return "".join(fh.readlines()[-n:])
        except OSError:
            return ""

    def corpus(self, convs):
        """Generate the workload's events; return their directory and the
        turn count."""
        sf = os.path.join(self.work, "sf")
        return sf, gen.write_corpus(self.args.seed, convs, sf).num_rows

    def main_build(self, sf, out, halt=False):
        """Launch graft.app.Main into `out`. Returns the child's results
        (see run_child) and its set-up time: launch up to the submission of
        its first Spark job. With `halt` the process ends at that job."""
        first = out + ".first_job"
        rc, wall, cpu, rss, launch = self.submit(
            "graft.app.Main", sf, out, "run-1",
            conf=["spark.extraListeners=graftbench.FirstJob",
                  f"spark.kgbench.firstJobFile={first}",
                  f"spark.kgbench.haltAtFirstJob={str(halt).lower()}"])
        with open(first) as fh:
            setup = int(fh.read()) / 1000.0 - launch
        return rc, wall, cpu, rss, setup


def oracle_sql(jar):
    """Oracle SQL texts from the harness, cached beside the jar."""
    path = os.path.join(os.path.dirname(jar), "oracle_sql.json")
    if not os.path.isfile(path) or os.path.getmtime(path) < os.path.getmtime(jar):
        cp = os.pathsep.join([jar, os.path.join(build.spark_home(), "jars", "*")])
        subprocess.run(["java", "-cp", cp, "graftbench.Harness", "sql", path + ".tmp"],
                       check=True, stdout=sys.stderr, stderr=sys.stderr)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return json.load(fh)


def dir_bytes(path):
    files = total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            total += os.path.getsize(os.path.join(d, f))
    return files, total


def corrupt_edges(graph_dir):
    """Drop one row from the committed edge table (the checks' self-test)."""
    import pyarrow.parquet as pq
    for f in checks.table_files(os.path.join(graph_dir, "edges")):
        t = pq.read_table(f)
        if t.num_rows:
            pq.write_table(t.slice(1), f)
            log(f"corrupted {f}")
            return


def spans_of(trace, names):
    return [s for s in trace["spans"] if s["name"] in names]


def self_s(trace, name):
    return sum(s["self_ms"] for s in trace["spans"] if s["name"] == name) / 1000.0


def driver_only_s(trace, top):
    """Wall time inside the spans `top` during which no task ran."""
    busy = trace["task_busy_ms"]
    total = 0.0
    for s in top:
        a, b = s["start_ms"], s["end_ms"]
        covered = sum(max(0.0, min(b, e) - max(a, st)) for st, e in busy)
        total += (b - a) - covered
    return total / 1000.0


def zero_layers():
    return {n: 0.0 for n, *_ in metrics.PER_LAYER}


# ------------------------------------------------------------ build_cold

def build_cold(run, sql):
    a = run.args
    sf, turns = run.corpus(CONVS["build_cold"])
    setups = [run.main_build(sf, os.path.join(run.work, f"probe{i}"), halt=True)[4]
              for i in range(0 if a.trace else SETUP_PROBES)]
    builds = []
    deadline = time.perf_counter() + a.seconds
    while not builds or (not a.trace and time.perf_counter() < deadline):
        out = os.path.join(run.work, f"out{len(builds)}")
        rc, wall, cpu, rss, setup = run.main_build(sf, out)
        builds.append((rc, wall, rss, out, cpu))
        setups.append(setup)
    ok = [b for b in builds if b[0] == 0]
    traced = None
    if a.trace and ok:
        tout = os.path.join(run.work, "traced")
        spans = os.path.join(run.work, "spans.json")
        rc, twall, _, _, _ = run.submit("graftbench.Harness", "tracebuild", sf, tout, "run-1", spans)
        if rc == 0:
            with open(spans) as fh:
                traced = (json.load(fh), twall, tout)
    if ok:
        if os.environ.get("KGBENCH_CORRUPT") == "1":
            corrupt_edges(ok[-1][3])
        con = checks.connect(run.work)
        checks.load_oracle_graph(con, sql, os.path.join(sf, "events.parquet"))
        run.count(checks.graph_matches_oracle(con, sql, ok[-1][3]))
        if traced:
            run.count(checks.tables_equal(con, ok[-1][3], traced[2]))
    walls = [b[1] for b in ok]
    log(f"build_cold: {len(ok)}/{len(builds)} builds, wall {[round(w, 2) for w in walls]} s, "
        f"set-up {[round(x, 2) for x in setups]} s")
    if not a.trace:
        if not ok:
            return {}
        _, total = dir_bytes(ok[-1][3])
        return {
            "setup_s": statistics.median(setups),
            "mix_cpu_ms": metrics.mix_cost([("build", b[4] * 1000) for b in ok]),
            "stored_bytes_per_turn": total / turns,
        }
    m = zero_layers()
    if traced and ok:
        m.update(build_layers(traced, ok[-1], run))
    return m


def build_layers(traced, main_build, run):
    doc, twall, tout = traced
    tr = doc["trace"]
    build_names = {"spark.session", "sources", "extract", "resolve", "link", "pipeline",
                   "checkpoint.commit", "checkpoint.read", "checkpoint.lineage"}
    top = [s for s in tr["spans"] if s["parent"] == 0 and s["name"] in build_names]
    build_spans = spans_of(tr, build_names)
    con = checks.connect(run.work)

    def rows(stage, where="TRUE"):
        rel = "read_parquet([" + ",".join(f"'{f}'" for f in checks.table_files(os.path.join(tout, stage))) + "])"
        return con.execute(f"SELECT count(*) FROM {rel} WHERE {where}").fetchone()[0]

    turns = rows("transcripts")
    mentions = rows("mentions")
    calls = rows("mentions", "mention_type = 'FunctionCall'")
    requests = rows("mentions", "mention_type = 'Request'")
    edges = rows("edges")
    pipe = spans_of(tr, {"pipeline"})
    counts = tr["counts"]
    files, nbytes = dir_bytes(main_build[3])
    extra_s = (doc["extra_ms"]) / 1000.0
    covered_s = sum(s["end_ms"] - s["start_ms"] for s in top) / 1000.0
    return {
        "wall.op_p50_ms": main_build[1] * 1000,
        "wall.mix_cost_ms": main_build[1] * 1000,
        "sources.busy_s": self_s(tr, "sources"),
        "sources.turns": turns,
        "extract.busy_s": self_s(tr, "extract"),
        "extract.mentions_per_turn": mentions / turns,
        "resolve.busy_s": self_s(tr, "resolve"),
        "resolve.resolved_share": rows("resolved_calls", "strategy <> 'unverified'") / max(calls, 1),
        "resolve.task_skew": max(s["stage_skew"] for s in spans_of(tr, {"resolve"})),
        "link.busy_s": self_s(tr, "link"),
        "link.links_per_request": rows("api_links") / max(requests, 1),
        "canon.busy_s": self_s(tr, "canon"),
        "canon.pair_yield": counts.get("canon.merged_pairs", 0.0) / max(counts.get("canon.candidate_pairs", 0.0), 1.0),
        "pipeline.busy_s": self_s(tr, "pipeline"),
        "pipeline.jobs": sum(s["jobs"] for s in pipe),
        "pipeline.exec_cpu_s": sum(s["cpu_s"] for s in pipe),
        "pipeline.gc_s": sum(s["gc_s"] for s in pipe),
        "pipeline.spill_bytes": sum(s["spill_bytes"] for s in pipe),
        "pipeline.edges": edges,
        "pipeline.shuffle_bytes_per_edge": sum(s["shuffle_write_bytes"] for s in build_spans) / max(edges, 1),
        "checkpoint.commit_s": self_s(tr, "checkpoint.commit"),
        "checkpoint.lineage_s": self_s(tr, "checkpoint.lineage"),
        "checkpoint.read_s": self_s(tr, "checkpoint.read"),
        "checkpoint.files_written": files,
        "checkpoint.bytes_written": nbytes,
        "spark.driver_only_s": driver_only_s(tr, top),
        "spark.tasks": sum(s["tasks"] for s in build_spans),
        "spark.gc_s": sum(s["gc_s"] for s in build_spans),
        "process.peak_rss_mb": main_build[2],
        "trace.overhead_share": (twall - extra_s) / main_build[1] - 1.0,
        "trace.unexplained_s": twall - extra_s - covered_s,
    }


# ------------------------------------------------------------- serve_mix

def served_graph(run):
    """The committed graph serve_mix serves, and the events it was built
    from. A batch job builds it, as in production; the first run after the
    program changes builds it into the build directory, later runs reuse it.
    Returns (events directory, graph directory, turns), or None if the build
    failed."""
    h = hashlib.sha256()
    for f in (run.jar, gen.__file__):
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(f"{SERVE_CORPUS_SEED} {CONVS['serve_mix']}".encode())
    d = os.path.join(build.build_dir(), "serve-" + h.hexdigest()[:16])
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_corpus(SERVE_CORPUS_SEED, CONVS["serve_mix"], os.path.join(tmp, "sf"))
        log("building the served graph")
        if run.submit("graftbench.Harness", "prepare", os.path.join(tmp, "sf"),
                      os.path.join(tmp, "graph"))[0] != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        try:
            os.rename(tmp, d)
        except OSError:  # another run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    import pyarrow.parquet as pq
    sf = os.path.join(d, "sf")
    return sf, os.path.join(d, "graph"), pq.read_metadata(os.path.join(sf, "events.parquet")).num_rows


def serve_mix(run, sql):
    a = run.args
    served = served_graph(run)
    if served is None:
        return {}
    sf, graph, turns = served
    out = os.path.join(run.work, "serve.json")
    rc, _, _, rss, launch = run.submit(
        "graftbench.Harness", "serve", f"graph={graph}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"run_id=serve-{a.seed}", f"seed={a.seed}", f"out={out}")
    if rc != 0:
        return {}
    with open(out) as fh:
        res = json.load(fh)
    reqs = res["requests"]
    checked = graph
    if os.environ.get("KGBENCH_CORRUPT") == "1":
        checked = os.path.join(run.work, "graph")
        shutil.copytree(graph, checked)
        corrupt_edges(checked)
    con = checks.connect(run.work)
    checks.load_oracle_graph(con, sql, os.path.join(sf, "events.parquet"))
    run.count([], ops=len(reqs))
    run.count(checks.graph_matches_oracle(con, sql, checked))
    run.count(checks.twins_match(con, sql, checked, res["twins"]), ops=len(res["twins"]))
    untraced = [r for r in reqs if not r[3]]
    lat = [r[1] for r in untraced]
    tail = metrics.tail_percentile(len(lat))
    log(f"serve_mix: {len(lat)} untraced requests, p50 {statistics.median(lat):.1f} ms"
        + (f", p{tail} {metrics.quantile(lat, tail / 100):.1f} ms" if tail and tail > 50 else ""))
    if not a.trace:
        _, nbytes = dir_bytes(graph)
        return {
            "setup_s": res["setup_end_ms"] / 1000.0 - launch,
            "mix_cpu_ms": statistics.fmean(r[2] for r in untraced),
            "stored_bytes_per_turn": nbytes / turns,
        }
    tr = res["trace"]
    m = zero_layers()
    m["sources.turns"] = turns
    m["process.peak_rss_mb"] = rss

    def per_request(cls, field=None):
        ss = spans_of(tr, {cls})
        if not ss:
            return 0.0
        if field is None:
            return sum(s["self_ms"] for s in ss) / len(ss)
        return sum(s[field] for s in ss) / len(ss)

    traced_ms = sum(r[1] for r in reqs if r[3])
    cycle = 10
    untraced_cycles = len(lat) / cycle
    traced_cycles = (len(reqs) - len(lat)) / cycle
    top = [s for s in tr["spans"] if s["parent"] == 0 and s["name"] != "query.index_build"]
    m.update({
        "wall.op_p50_ms": statistics.median(lat),
        "wall.mix_cost_ms": metrics.mix_cost([(r[0], r[1]) for r in untraced]),
        "graphstore.lookup.busy_ms": per_request("graphstore.lookup"),
        "graphstore.lookup.jobs_per_request": per_request("graphstore.lookup", "jobs"),
        "query.search.busy_ms": per_request("query.search"),
        "query.search.rows_read_per_request": per_request("query.search", "records_read"),
        "query.traverse.busy_ms": per_request("query.traverse"),
        "query.traverse.shuffle_bytes_per_request": per_request("query.traverse", "shuffle_write_bytes"),
        "query.traverse.jobs_per_request": per_request("query.traverse", "jobs"),
        "query.hybrid.busy_ms": per_request("query.hybrid"),
        "query.hybrid.jobs_per_request": per_request("query.hybrid", "jobs"),
        "query.index_build_s": self_s(tr, "query.index_build"),
        "spark.driver_only_s": driver_only_s(tr, top),
        "spark.tasks": sum(s["tasks"] for s in top),
        "spark.gc_s": sum(s["gc_s"] for s in top),
        "trace.overhead_share": (traced_ms / traced_cycles) / (sum(lat) / untraced_cycles) - 1.0,
        "trace.unexplained_s": (traced_ms - sum(s["end_ms"] - s["start_ms"] for s in top)) / 1000.0,
    })
    return m


WORKLOADS = {"build_cold": build_cold, "serve_mix": serve_mix}


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: (_kill_children(), sys.exit(143)))
    try:
        jar = build.ensure_built()
        sql = oracle_sql(jar)
    except (build.BuildError, OSError, ValueError) as e:
        log(f"cannot build the benchmark: {e}")
        return 2
    work = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, jar, work)
    try:
        values = WORKLOADS[args.workload](run, sql)
    except (subprocess.SubprocessError, OSError, KeyError, ValueError) as e:
        log(f"run failed: {e!r}")
        return 1
    finally:
        _kill_children()
        shutil.rmtree(work, ignore_errors=True)
    for f in run.failures:
        log(f"FAILED: {f}")
    want = [n for n, *_ in (metrics.PER_LAYER if args.trace else metrics.END_TO_END)]
    if run.failures or sorted(values) != sorted(want):
        print(json.dumps(metrics.result(False, max(1, run.attempted), max(1, run.failed), values)))
        return 1
    print(json.dumps(metrics.result(True, run.attempted, 0, {k: values[k] for k in want})))
    return 0


if __name__ == "__main__":
    sys.exit(main())
