#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft's main
sources and the harness (perfbench/src) with sbt into perfbench/target;
later runs reuse the build while the sources are unchanged. Inputs are
generated under perfbench/.work: the fixed sf0.1 and sf0.001 tables
(gen_data.py) and, for ingest_live, a live event stream (gen_events.py)
made from --seed.

Workloads (see DESIGN.md for why each exists):
  ingest_live    IngestMain service on a processing-time trigger, fed by an
                 open-loop generator process
  stream_replay  a streaming ingest leg and a stateful fold over a staged backlog
  curate         LLM-curation queries over fresh table copies, noop sink

Output: one short line per metric (`metric <workload> <name> <value> <unit>
n=<samples>`), then one JSON line {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The full per-operation record goes to
perfbench/.work/records/. Exits non-zero if any output is wrong.
"""
import argparse
import glob
import hashlib
import itertools
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import urllib.parse

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen_data  # noqa: E402
import gen_events  # noqa: E402

WORK = os.path.join(BENCH, ".work")
RUN = os.path.join(WORK, "run")
RECORDS = os.path.join(WORK, "records")
DEADLINE_S = 170.0
CORES = os.cpu_count() or 4

# ingest_live: offered load and service settings (DESIGN.md, "ingest_live")
INGEST_RATE = 10000         # events per second, open loop
INGEST_TRIGGER_MS = 1000
EVENT_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
             "value DOUBLE, props STRING, created_us BIGINT")

with open(os.path.join(BENCH, "queries.json")) as f:
    QUERIES = json.load(f)
# the stream_replay legs whose staged input rows make up rows_per_s
INGEST_LEGS = ("s1_ingest_parquet",)
EXPECTED_FILE = os.path.join(BENCH, "expected.json")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return files


def build(root):
    """Compile graft + harness with sbt once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    h = hashlib.sha256()
    for p in sources(root):
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    stamp = h.hexdigest()
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath")
    if os.path.exists(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "sbt.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, stdout=subprocess.PIPE, stderr=log, text=True,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(os.path.join(out, "stamp"), "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ------------------------------------------------------------------- data

def tables(sf, want):
    """The fixed input tables at `sf`, generated on first use and checked
    against the digest `want` that expected.json was derived from."""
    d = os.path.join(WORK, "data", f"sf{sf}")
    try:
        ok = gen_data.digest(d) == want
    except OSError:
        ok = False
    if not ok:
        shutil.rmtree(d, ignore_errors=True)
        if gen_data.generate(d, sf) != want:
            fail(f"generated sf{sf} tables differ from the ones expected.json was made from")
    return d


# -------------------------------------------------------------------- JVM

def java_cmd(cp, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # A fixed heap and young generation without adaptive sizing: under G1's
    # adaptive heap growth, peak RSS of identical runs split between about
    # 1.25 and 2.0 GB depending on whether the heap happened to expand.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={RUN}/tmp",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Harness"] + args


def cpu_times():
    """The machine's aggregate CPU jiffies: (steal, total)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def vm_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def run_jvm(cmd, on_ready=None):
    """Run the harness; return (launch epoch s, peak RSS MB, share of CPU
    time the hypervisor stole meanwhile). The harness prints PERFBENCH_DONE
    and waits for stdin to close, so VmHWM is read from outside while the
    process still exists."""
    log = open(os.path.join(RUN, "jvm.log"), "w")
    cpu0 = cpu_times()
    launch = time.time()
    p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    killer = threading.Timer(max(1.0, DEADLINE_S - (time.time() - T_START)),
                             lambda: os.killpg(p.pid, signal.SIGKILL))
    killer.start()
    peak = None
    try:
        for line in p.stdout:
            if line.startswith("PERFBENCH_READY") and on_ready:
                on_ready()
            elif line.startswith("PERFBENCH_DONE"):
                peak = vm_hwm_mb(p.pid)
                p.stdin.close()
        p.wait()
    finally:
        killer.cancel()
        log.close()
    if p.returncode != 0 or peak is None:
        with open(os.path.join(RUN, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {p.returncode}", 3)
    cpu1 = cpu_times()
    steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    return launch, peak, steal


# ------------------------------------------------------------ statistics

def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


# ---------------------------------------------------------- verification

def canon_hash(rel):
    """Order-preserving digest of a result: columns sorted by name, floats
    as repr(round(v, 9)), everything else as repr (scripts/check_oracle.py's
    canonical form)."""
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    rows = rel.fetchall()
    for r in rows:
        vals = tuple(repr(round(r[i], 9)) if isinstance(r[i], float) else repr(r[i]) for i in order)
        h.update(repr(vals).encode())
    return h.hexdigest(), len(rows)


def check_queries(names, expected):
    """Compare each query's saved result with expected.json; return the
    list of problems."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for n in names:
        err = os.path.join(RUN, "results", f"{n}.error.txt")
        if os.path.exists(err):
            bad.append(f"{n}: failed: {open(err).read().strip()[:200]}")
            continue
        files = glob.glob(os.path.join(RUN, "results", n, "*.parquet"))
        if not files:
            bad.append(f"{n}: no result")
            continue
        got = canon_hash(con.sql(f"SELECT * FROM read_parquet({files!r})"))
        want = expected.get(n)
        if want is None or [want["hash"], want["rows"]] != list(got):
            bad.append(f"{n}: result differs from expected ({got[1]} rows, expected {want and want['rows']})")
    return bad


def check_ingest(summary, start_s, seed, rate, seconds):
    """Read the landed table and its file-sink log; check that every
    well-formed event landed exactly once with per-(dt,hr) count and
    sum(value) equal to the generator's, and that the malformed lines
    landed as corrupt rows. Returns (problems, facts)."""
    import pyarrow.parquet as pq
    sink = os.path.join(RUN, "sink")
    log_dir = os.path.join(sink, "_spark_metadata")
    batches = sorted({int(n.split(".")[0]) for n in os.listdir(log_dir) if n.split(".")[0].isdigit()})
    seen, file_batch, commit_s, files_per_batch = set(), {}, {}, []
    for b in batches:
        name = str(b) if os.path.exists(os.path.join(log_dir, str(b))) else f"{b}.compact"
        path = os.path.join(log_dir, name)
        commit_s[b] = os.stat(path).st_mtime_ns / 1e9
        entries = [json.loads(l) for l in open(path).read().splitlines()[1:] if l.strip()]
        new = [e["path"] for e in entries if e["path"] not in seen]
        files_per_batch.append(len(new))
        for p in new:
            seen.add(p)
            file_batch[p] = b
    ticks = itertools.islice(gen_events.events(seed, rate, seconds, int(start_s * 1e6)), summary["ticks"])
    plan = [e for tick in ticks for _, e in tick]
    good = {e[0]: e for e in plan if e is not None}
    n_corrupt_gen = sum(1 for e in plan if e is None)
    landed, corrupt, n_bytes, n_rows, by_part = {}, 0, 0, 0, {}
    dup = 0
    for p, b in file_batch.items():
        local = urllib.parse.urlparse(p).path
        t = pq.read_table(local, columns=["event_id", "value", "_corrupt"]).to_pydict()
        n_bytes += os.path.getsize(local)
        n_rows += len(t["event_id"])
        parts = dict(seg.split("=", 1) for seg in local.split("/") if seg.startswith(("dt=", "hr=")))
        key = (parts.get("dt"), parts.get("hr"))
        for eid, val, cor in zip(t["event_id"], t["value"], t["_corrupt"]):
            if cor is not None:
                corrupt += 1
                continue
            if eid in landed:
                dup += 1
            landed[eid] = b
            by_part.setdefault(key, []).append(val)
    problems = []
    missing = [i for i in good if i not in landed]
    extra = [i for i in landed if i not in good]
    if missing or extra or dup:
        problems.append(f"ingest: {len(missing)} events missing, {len(extra)} unexpected, {dup} duplicated")
    want_part = {}
    for i, created, ts_us, val in good.values():
        tm = time.gmtime(ts_us // 1_000_000)
        want_part.setdefault((time.strftime("%Y-%m-%d", tm), time.strftime("%H", tm)), []).append(val)
    for key in set(want_part) | set(by_part):
        a, b = want_part.get(key, []), by_part.get(key, [])
        if len(a) != len(b) or math.fsum(a) != math.fsum(b):
            problems.append(f"ingest: partition dt={key[0]}/hr={key[1]}: {len(b)} rows sum {math.fsum(b)}, "
                            f"expected {len(a)} rows sum {math.fsum(a)}")
            break
    if corrupt != n_corrupt_gen:
        problems.append(f"ingest: {corrupt} corrupt rows landed, {n_corrupt_gen} malformed lines sent")
    end_s = summary["end_s"]
    fresh = [commit_s[landed[i]] - good[i][1] / 1e6 for i in good if i in landed]
    readable = sum(1 for i in good if i in landed and commit_s[landed[i]] <= end_s)
    facts = {
        "freshness": fresh,
        "landed_frac": readable / max(1, len(good)),
        "attempted": len(good),
        "failed": len(missing) + dup,
        "files_per_batch": pct([n for n in files_per_batch if n > 0], 50) if files_per_batch else 0.0,
        "bytes_per_row_landed": n_bytes / max(1, n_rows),
        "corrupt_rows": corrupt,
        "late_ms_max": summary["late_ms_max"],
    }
    return problems, facts


# ---------------------------------------------------------------- metrics

def op_metrics(workload, rec):
    """End-to-end figures from the timed operations of a query or replay run."""
    samples = rec["samples"]
    ok = [s for s in samples if "error" not in s]
    lat = [s["wall_ms"] / 1000.0 for s in ok]
    by_pass = {}
    for s in samples:
        by_pass.setdefault(s["pass"], []).append(s)
    passes = [sum(s["wall_ms"] for s in ss) / 1000.0 for ss in by_pass.values()
              if all("error" not in s for s in ss)]
    m = {"latency_p50_s": (pct(lat, 50), "s", len(lat)),
         "latency_p90_s": (pct(lat, 90), "s", len(lat)),
         "pass_s": (pct(passes, 50), "s", len(passes))}
    if workload == "stream_replay":
        legs = [s for s in ok if s["name"] in INGEST_LEGS]
        rows = rec["input_rows"] * len(legs)
        m["throughput_per_s"] = (rows / max(1e-9, sum(s["wall_ms"] for s in legs) / 1000.0), "1/s", len(legs))
        m["rows_per_s"] = (m["throughput_per_s"][0], "rows/s", len(legs))
    else:
        m["throughput_per_s"] = (len(ok) / max(1e-9, sum(lat)), "1/s", len(ok))
    return m


def layer_metrics(workload, rec, ingest_facts):
    """Per-layer figures of a traced run. A layer that did no work on this
    workload reports 0."""
    t = rec["trace"]
    tot = t["totals"]
    samples = [s for s in rec["samples"] if "error" not in s]
    n_pass = max(1, len({s["pass"] for s in rec["samples"]})) if samples else 1
    batches = [b for b in t["batches"] if b["rows"] > 0]
    plans = t["plans"]
    jobs = t["jobs"]

    def p50(key):
        return pct([b[key] for b in batches], 50) if batches else 0.0

    # driver gap: operation wall time covered by neither planning nor a job
    gap = 0.0
    for s in samples:
        a, b = s["start_ms"], s["end_ms"]
        iv = sorted([(max(a, p["start_ms"]), min(b, p["end_ms"])) for p in plans] +
                    [(max(a, j["start_ms"]), min(b, j["end_ms"])) for j in jobs])
        covered, cur_a, cur_b = 0.0, None, None
        for x, y in iv:
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        gap += max(0.0, (b - a) - covered)
    per_pass = 1.0 / n_pass
    state_peak = {}
    for b in t["batches"]:
        state_peak[b["query"]] = max(state_peak.get(b["query"], 0), b["state_rows_total"])
    m = {
        "ingest.batches": len(batches),
        "ingest.rows_per_batch_p50": p50("rows"),
        "ingest.latest_offset_ms_p50": p50("latestOffset"),
        "ingest.query_planning_ms_p50": p50("queryPlanning"),
        "ingest.wal_commit_ms_p50": p50("walCommit"),
        "ingest.commit_offsets_ms_p50": p50("commitOffsets"),
        "ingest.add_batch_ms_p50": p50("addBatch"),
        "ingest.trigger_ms_p50": p50("trigger_ms"),
        "ingest.trigger_ms_p99": pct([b["trigger_ms"] for b in batches], 99) if batches else 0.0,
        "ingest.parse_rows_per_s": rec["probes"].get("ingest.parse_rows_per_s", 0.0),
        "ingest.files_per_batch": ingest_facts.get("files_per_batch", 0.0),
        "ingest.bytes_per_row_landed": ingest_facts.get("bytes_per_row_landed", 0.0),
        "ingest.corrupt_rows": ingest_facts.get("corrupt_rows", 0),
        "state.commit_ms": sum(b["state_commit_ms"] for b in t["batches"]) * per_pass,
        "state.rows_total": sum(state_peak.values()) * per_pass,
        "state.memory_bytes": max([b["state_memory_bytes"] for b in t["batches"]] or [0]),
        "state.rows_dropped_by_watermark": sum(b["state_rows_dropped"] for b in t["batches"]) * per_pass,
        "plan.build_ms": sum(s["build_ms"] for s in samples) * per_pass,
        "plan.analysis_ms": sum(p["analysis_ms"] for p in plans) * per_pass,
        "plan.optimize_ms": sum(p["optimize_ms"] for p in plans) * per_pass,
        "plan.physical_ms": sum(p["physical_ms"] for p in plans) * per_pass,
        "plan.graft_exec_nodes": sum(p["graft_exec_nodes"] for p in plans) * per_pass,
        "exec.jobs": len(jobs) * per_pass,
        "exec.stages": tot["exec.stages"] * per_pass,
        "exec.tasks": tot["exec.tasks"] * per_pass,
        "exec.run_ms": tot["exec.run_ms"] * per_pass,
        "exec.cpu_ms": tot["exec.cpu_ms"] * per_pass,
        "exec.gc_ms": tot["exec.gc_ms"] * per_pass,
        "exec.driver_gap_ms": gap * per_pass,
        "exec.spill_bytes": tot["exec.spill_bytes"] * per_pass,
        "scan.bytes_read": tot["scan.bytes_read"] * per_pass,
        "scan.rows_read": tot["scan.rows_read"] * per_pass,
        "exchange.shuffle_write_bytes": tot["exchange.shuffle_write_bytes"] * per_pass,
        "exchange.shuffle_read_bytes": tot["exchange.shuffle_read_bytes"] * per_pass,
        "exchange.shuffle_records": tot["exchange.shuffle_records"] * per_pass,
    }
    for k in ("expr.minhash_rows_per_s", "expr.simhash_rows_per_s", "expr.dot_pairs_per_s"):
        m[k] = rec["probes"].get(k, 0.0)
    return m


# -------------------------------------------------------------- tracing

def nest_spans(spans):
    """Give each span the innermost earlier span that contains it as its
    parent (spans arrive sorted by start, longest first), inheriting the
    parent's trace id when it has none of its own."""
    out, stack = [], []
    for i, s in enumerate(spans):
        while stack and not (stack[-1]["start_ms"] <= s["start_ms"] and s["end_ms"] <= stack[-1]["end_ms"]):
            stack.pop()
        parent = stack[-1] if stack else None
        node = dict(s, id=i, parent=parent["id"] if parent else None)
        if not node["trace"] and parent:
            node["trace"] = parent["trace"]
        out.append(node)
        stack.append(node)
    return out


def self_times(spans):
    """Per span name: total duration and self time (duration minus the part
    its direct children cover)."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        cov, end = 0, s["start_ms"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], end), c["end_ms"]
            if b > a:
                cov += b - a
                end = b
        row = table.setdefault(s["name"], [0, 0.0, 0.0])
        row[0] += 1
        row[1] += dur
        row[2] += dur - cov
    return table


# ------------------------------------------------------------------ main

def main():
    global T_START
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest_live", "stream_replay", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default="none",
                    help="self-test faults: throw:<query> makes that query throw; wrong:<query> "
                         "alters its expected result")
    a = ap.parse_args()
    root = os.getcwd()
    cp = build(root)
    T_START = time.time()  # the run's deadline does not count the build
    with open(EXPECTED_FILE) as f:
        expected = json.load(f)
    data = tables(0.1, expected["data_digest"]["0.1"])
    warm = tables(0.001, expected["data_digest"]["0.001"])
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(os.path.join(RUN, "tmp"))
    os.makedirs(RECORDS, exist_ok=True)
    w = a.workload
    args = ["--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--warm", warm, "--work", RUN, "--out", os.path.join(RUN, "record.json"),
            "--inject", a.inject]
    names = QUERIES.get(w, [])
    if names:
        args += ["--queries", ",".join(names)]
    gen = {}
    if w == "ingest_live":
        conf = os.path.join(RUN, "ingest.conf")
        with open(conf, "w") as f:
            f.write("\n".join([
                "source.type=file", f"source.path={RUN}/src", f"schema.ddl={EVENT_DDL}", "ts.column=ts",
                f"sink.path={RUN}/sink", f"sink.checkpoint={RUN}/ck", f"sink.partitions={CORES}",
                "trigger.mode=processingTime", f"trigger.intervalMs={INGEST_TRIGGER_MS}"]) + "\n")
        os.makedirs(os.path.join(RUN, "src"))
        args += ["--ingest-conf", conf]

        def start_generator():
            gen["start"] = math.ceil(time.time() * 10) / 10 + 0.5
            gen["proc"] = subprocess.Popen(
                [sys.executable, os.path.join(BENCH, "gen_events.py"), os.path.join(RUN, "src"),
                 os.path.join(RUN, "gen_summary.json"), str(a.seed), str(INGEST_RATE), str(a.seconds),
                 str(gen["start"])])
        try:
            launch, peak, steal = run_jvm(java_cmd(cp, args), start_generator)
        finally:
            if "proc" in gen:
                gen["proc"].wait()
    else:
        launch, peak, steal = run_jvm(java_cmd(cp, args))
    with open(os.path.join(RUN, "record.json")) as f:
        rec = json.load(f)

    problems, facts = [], {}
    m = {"setup_s": ((rec["setup_end_ms"] / 1000.0) - launch, "s", 1),
         "peak_rss_mb": (peak, "MB", 1)}
    if w == "ingest_live":
        with open(os.path.join(RUN, "gen_summary.json")) as f:
            summary = json.load(f)
        problems, facts = check_ingest(summary, gen["start"], a.seed, INGEST_RATE, a.seconds)
        fr = facts["freshness"]
        m["latency_p50_s"] = (pct(fr, 50), "s", len(fr))
        m["latency_p90_s"] = (pct(fr, 90), "s", len(fr))
        # the service's processing rate: rows over the time its batches ran
        bs = rec["ingest_batches"]
        m["throughput_per_s"] = (sum(b["rows"] for b in bs) / max(1e-9, sum(b["trigger_ms"] for b in bs) / 1000.0),
                                 "1/s", len(bs))
        m["freshness_p50_s"], m["freshness_p99_s"] = m["latency_p50_s"], (pct(fr, 99), "s", len(fr))
        m["landed_frac"] = (facts["landed_frac"], "ratio", facts["attempted"])
        m["gen.late_ms_max"] = (facts["late_ms_max"], "ms", summary["ticks"])
        attempted, failed = facts["attempted"], facts["failed"]
    else:
        m.update(op_metrics(w, rec))
        attempted = len(rec["samples"])
        failed = sum(1 for s in rec["samples"] if "error" in s)
        want = dict(expected["queries"])
        if a.inject.startswith("wrong:"):
            q = a.inject.split(":", 1)[1]
            want[q] = dict(want[q], hash="0" * 64)
        problems = check_queries(names, want)
    m["failed_frac"] = (failed / max(1, attempted), "ratio", attempted)

    for k, (v, unit, n) in m.items():
        print(f"metric {w} {k} {v:.6g} {unit} n={n}")
    # not a metric of graft: a run on a machine whose CPUs were being taken
    # away is slow for a reason outside the program
    print(f"note {w} host.cpu_steal_frac {steal:.4f} ratio")
    for p in problems:
        print(f"WRONG {w} {p}")

    record = {"workload": w, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "correct": not problems, "attempted": attempted, "failed": failed,
              "e2e": {k: v for k, (v, _, _) in m.items()}, "cpu_steal_frac": steal, "problems": problems,
              "samples": rec["samples"]}
    e2e_names = [x["name"] for x in BENCH_SPEC["end_to_end"]]
    if a.trace:
        layers = layer_metrics(w, rec, facts)
        spans = nest_spans(rec["trace"]["spans"])
        span_file = os.path.join(RECORDS, f"{w}-seed{a.seed}-spans.jsonl")
        with open(span_file, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        print(f"layer-table {w} (self time over the measured window; spans in {os.path.relpath(span_file, root)})")
        print(f"  {'span':<16}{'count':>8}{'total_ms':>12}{'self_ms':>12}")
        for name, (n, total, self_ms) in sorted(self_times(spans).items(), key=lambda kv: -kv[1][2]):
            print(f"  {name:<16}{n:>8}{total:>12.0f}{self_ms:>12.0f}")
        for k, v in layers.items():
            print(f"layer {w} {k} {v:.6g}")
        untraced = sorted(glob.glob(os.path.join(RECORDS, f"{w}-seed*-trace0.json")), key=os.path.getmtime)
        if untraced:
            with open(untraced[-1]) as f:
                base = json.load(f)["e2e"]
            for k in e2e_names:
                print(f"overhead {w} {k} traced={m[k][0]:.6g} untraced={base[k]:.6g} "
                      f"delta={m[k][0] - base[k]:+.6g}")
        record["layers"] = layers
        metrics = {x["name"]: {"value": layers[x["name"]], "unit": x["unit"]} for x in BENCH_SPEC["per_layer"]}
    else:
        metrics = {k: {"value": m[k][0], "unit": m[k][1]} for k in e2e_names}
    with open(os.path.join(RECORDS, f"{w}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if not problems else 1)


with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
    BENCH_SPEC = json.load(f)

if __name__ == "__main__":
    main()
