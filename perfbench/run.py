#!/usr/bin/env python3
"""One benchmark run of the extraction engine.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 12 --trace 0

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), runs one workload in a JVM pinned to a fixed
environment, checks every output, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are
its per-layer metrics, and the spans go to .perfbench/traces/. The line
before it holds diagnostics: host noise, op times, CPU per op, fail ratio,
each query's median time (query_suite) and the highest latency percentile
that has at least ten samples beyond it.

Workloads (the seed picks the doc-id window, or the timed passes' query orders):
  extract_bulk  ExtractJob.run over a fresh output, one wave
  query_suite   a fixed sample of SparkEntry.queries over perfbench/tables
A traced run of either workload also profiles every layer: extraction and
curation prefixes, 8 resume restarts of one output, the kernel alone, and
the query families. The curation funnel and the resume restarts it makes
are checked and counted as operations too.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TABLES = ROOT / "perfbench" / "tables"
WORKLOADS = ("extract_bulk", "query_suite")
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


# ------------------------------------------------------------------ statistics
def percentile(xs, q):
    """Linear-interpolated q-th percentile."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def reportable_percentile(xs, candidates=(99, 95, 90, 75)):
    """The highest candidate percentile with at least ten samples strictly
    beyond it, as (q, value); None when no candidate has ten."""
    for q in candidates:
        v = percentile(xs, q)
        if sum(1 for x in xs if x > v) >= 10:
            return q, v
    return None


# ---------------------------------------------------------------- the checks
def check_extract(samples, check):
    """extract_bulk: each run's docs_in is N, its lineage covers N docs, and
    the checked pids' checksums equal the golden fold. Returns failed ops."""
    failed = 0
    for s in samples:
        o = s["obs"]
        lineage = {p: ck for p, _, ck in o["lineage"]}
        ok = (o["docs_in"] == check["docs"]
              and sum(n for _, n, _ in o["lineage"]) == check["docs"]
              and all(lineage.get(int(p)) == ck for p, ck in check["golden"].items()))
        failed += not ok
    return failed


def check_resume(samples, check):
    """The traced profile's resume restarts, per cycle: docs_in sums to N,
    every pid has a manifest, no pid is processed twice, and the checked
    pids' checksums equal the golden fold. A bad cycle fails all its calls."""
    failed = 0
    waves = len(samples) and next(i for i, s in enumerate(samples) if "manifests" in s["obs"]) + 1
    for c in range(0, len(samples), waves):
        cycle = [s["obs"] for s in samples[c:c + waves]]
        last = cycle[-1]
        pids = [p for o in cycle for p in o["processed"]]
        lineage = {p: ck for p, _, ck in last.get("lineage", [])}
        ok = (len(cycle) == waves
              and sum(o["docs_in"] for o in cycle) == check["docs"]
              and last.get("manifests") == check["parts"]
              and sorted(pids) == list(range(check["parts"]))
              and all(lineage.get(int(p)) == ck for p, ck in check["golden"].items()))
        failed += 0 if ok else len(cycle)
    return failed


def funnel_ok(f, docs):
    """CurationJob's funnel takes in all N docs and only narrows."""
    return (f["docs_in"] == docs
            and 0 < f["curated"] <= f["quality_pass"] <= f["extracted"] <= f["docs_in"])


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (bool, int)):
        return v
    return str(v)


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(_norm(r[i]) for i in order) for r in cur.fetchall()),
                  key=lambda t: tuple(map(str, t)))
    return sorted(cols), rows


def wrong_queries(check, tables=TABLES):
    """Names of sampled queries whose Spark result differs from the DuckDB
    replay of their oracle SQL (columns by name, rows sorted)."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(Path(tables).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    wrong = set()
    for name, q in check.items():
        try:
            got = _rows(con, f"SELECT * FROM '{q['dir']}/*.parquet'")
            want = _rows(con, q["sql"])
        except Exception as e:  # an unreadable result or oracle is a wrong result
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            wrong.add(name)
            continue
        if got != want:
            wrong.add(name)
    return wrong


def check_queries(samples, check, tables=TABLES):
    wrong = wrong_queries(check, tables)
    return sum(1 for s in samples if s["obs"]["query"] in wrong)


CHECKS = {"extract_bulk": check_extract, "query_suite": check_queries}


# -------------------------------------------------------------------- result
def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def pass_walls(raw):
    """Wall time of each timed pass: `group` consecutive ops (one op for the
    extraction, one pass over the query sample for query_suite)."""
    walls = [s["wall"] for s in raw["samples"]]
    g = raw.get("group", 1)
    return [sum(walls[i:i + g]) for i in range(0, len(walls) - g + 1, g)]


def end_to_end(raw):
    """Medians over the run: a burst of host steal that slows a few passes
    moves a median less than a total."""
    walls = [s["wall"] for s in raw["samples"]]
    return {
        "setup_s": raw["setup_s"],
        "items_per_s": raw["items_per_op"] * raw.get("group", 1) / statistics.median(pass_walls(raw)),
        "latency_p50_s": statistics.median(walls),
        "peak_rss_mib": raw["peak_rss_mib"],
    }


def result(raw, trace, bench=None):
    """The last stdout line, from the harness's raw observations."""
    bench = bench or spec()
    samples = raw["samples"]
    failed = CHECKS[raw["workload"]](samples, raw["check"])
    attempted = len(samples)
    if trace:
        prof = raw["profile_check"]
        attempted += 1 + len(prof["resume"])
        failed += not funnel_ok(prof["funnel"], prof["docs"])
        failed += check_resume(prof["resume"], prof["resume_check"])
        values = dict(raw["layers"], **raw["host"])
        wanted = bench["per_layer"]
    else:
        values = end_to_end(raw)
        wanted = bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} not measured: {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def diagnostics(raw, res):
    walls = [s["wall"] for s in raw["samples"]]
    d = {"workload": raw["workload"], "samples": len(walls),
         "warm_up_s": raw["warm_up_s"], "op_s": walls,
         # process CPU per op (a mean: JIT and GC threads' CPU lands on
         # whichever op they overlap); too unsteady run to run to gate on
         "cpu_s_per_op": sum(s["cpu"] for s in raw["samples"]) / len(walls),
         "fail_ratio": res["failed"] / res["attempted"],
         "fail_ratio_base": res["attempted"], "host": raw["host"]}
    by_query = {}
    for s in raw["samples"]:
        if "query" in s["obs"]:
            by_query.setdefault(s["obs"]["query"], []).append(s["wall"])
    if by_query:
        d["query_p50_s"] = {q: statistics.median(ws) for q, ws in sorted(by_query.items())}
    hi = reportable_percentile(walls)
    if hi:
        d[f"latency_p{hi[0]}_s"] = hi[1]
    return {"diagnostics": d}


# ----------------------------------------------------------------------- run
def cds_options(jar):
    """Class-data sharing: the first run after a build dumps the classes it
    loaded into an archive next to the jar; later runs map it instead of
    loading and verifying Spark's classes one by one."""
    jsa = jar.with_suffix(".jsa")
    if jsa.exists():
        return [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return [f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def jvm_command(jar, args, work, out):
    cores = os.cpu_count() or 1
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        # The throughput collector set up and ran query_suite faster than G1
        # on a 4-core host. The heap is touched at start, so peak RSS is the
        # fixed heap plus native memory and moves only with the latter;
        # untouched, it followed how much old generation the collector
        # happened to reach (IQR 11% of the median over ten runs).
        "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={cores}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.stream.error.file={work / 'derby.log'}"] + cds_options(jar)
    cp = f"{jar}{os.pathsep}{build.classpath()}"
    return (["java"] + opts + ["-cp", cp, "perfbench.Harness", args.workload, str(args.seed),
                               str(args.seconds), str(args.trace), str(work), str(TABLES), str(out)])


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated benchmark still stops what it started (compiler, JVM)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    try:
        bench = spec()
        jar = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        sys.exit(f"perfbench: cannot build: {e}")
    deadline = time.monotonic() + 170

    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    proc = None
    try:
        # The JVM's stdout goes to stderr: only the result may reach stdout.
        proc = subprocess.Popen(jvm_command(jar, args, work, out),
                                stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: harness timed out")
        if rc != 0 or not out.exists():
            sys.exit(f"perfbench: harness exited with {rc}")
        raw = json.loads(out.read_text())
        res = result(raw, args.trace == 1, bench)
        if args.trace:
            traces = ROOT / ".perfbench" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(f"{out}.spans.jsonl", traces / f"{args.workload}-{args.seed}.spans.jsonl")
        print(json.dumps(diagnostics(raw, res)))
        print(json.dumps(res))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
