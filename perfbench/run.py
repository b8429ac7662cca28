#!/usr/bin/env python3
"""graft benchmark: seeded, output-checked workloads with end-to-end and
per-layer metrics.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload mine_iterative --seed 1 --seconds 5 --trace 0

It builds the library and the harness (perfbench/build.sbt) with sbt on
first use, generates the workload's input from the seed (gen.py), runs
one JVM (graft.perfbench.Main) and checks the outputs: oracled ops
against DuckDB with tools/check.py's comparator, the rest by their own
rules. The last stdout line is the result object; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics plus a span file and
a per-layer report under perfbench/out/. Scratch files live under
perfbench/.work/ and are deleted when the run ends.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("mine_iterative", "publish_fresh")
CORES = 4  # local[4] in Main.SessionConf
HEAP = "3g"
DEADLINE_S = 170  # a built run must end within 180 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
LAYERS = ["etl", "graph", "dedup", "sim", "text", "sources", "streaming"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile library + harness when a source is newer than the last
    build; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    newest = max(_newest_mtime([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                                os.path.join(HERE, "src"), os.path.join(HERE, "project")]),
                 os.path.getmtime(os.path.join(ROOT, "build.sbt")),
                 os.path.getmtime(os.path.join(HERE, "build.sbt")))
    if not os.path.exists(cp_file) or os.path.getmtime(cp_file) < newest:
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0 or not os.path.exists(cp_file):
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("build failed")
        log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as f:
        return f.read().strip()


# ---------------------------------------------------------------- checks

def load_check_module():
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_checks(data, check_dir, oracles):
    """Cell-for-cell DuckDB compare of each oracled op; returns failed names."""
    if not oracles:
        return []
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        load_check_module().main(data, check_dir)
    lines = buf.getvalue().splitlines()
    failed = [ln.split()[1].rstrip(":") for ln in lines if ln.startswith("FAIL ")]
    for ln in lines:
        if ln.startswith("FAIL") or ln.startswith("  "):
            log(ln)
    return failed


def publish_checks(data, facts):
    """Manifest totals against DuckDB: one kept doc per distinct text,
    tokens = whitespace-separated runs."""
    import duckdb
    con = duckdb.connect()
    n_docs, n_tok = con.execute(
        "SELECT count(*), sum(tok) FROM (SELECT md5(text) AS k, "
        "min(len(regexp_extract_all(text, '\\S+'))) AS tok "
        f"FROM read_parquet('{data}/documents.parquet') GROUP BY k)").fetchone()
    got = (facts.get("publish_n_docs"), facts.get("publish_n_tokens"))
    ok = got == (n_docs, n_tok)
    if not ok:
        log(f"publish manifest totals {got} != duckdb {(n_docs, n_tok)}")
    return ok


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it; below 21
    samples that percentile is not above the median, so the maximum."""
    xs = sorted(xs)
    n = len(xs)
    if n < 21:
        return (xs[-1] if xs else 0.0), 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


class Spans:
    def __init__(self, path):
        with open(path) as f:
            self.all = [json.loads(ln) for ln in f if ln.strip()]
        self.by_id = {s["id"]: s for s in self.all}
        self.kids = {}
        for s in self.all:
            self.kids.setdefault(s["parent"], []).append(s)

    def pass_of(self, s):
        while s is not None and s["kind"] != "pass":
            s = self.by_id.get(s["parent"])
        return s

    def subtree(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.kids.get(x["id"], []))
        return out

    def passes(self):
        return [s for s in self.all if s["kind"] == "pass"]


def op_name(s):
    if s["kind"] == "batch":
        return f"streaming.{s['name']}.batch_s"
    return f"{s['layer']}.{s['name']}.s"


def op_samples(spans, pass_ids):
    return [s for s in spans.all if s["kind"] in ("op", "batch")
            and spans.pass_of(s) and spans.pass_of(s)["id"] in pass_ids]


def end_to_end(raw, spans):
    first = raw["passes"][0]
    warm = [p for p in raw["passes"][1:] if not p["traced"]]
    warm_ids = {s["id"] for s in spans.passes()
                if s["name"] in {f"pass{p['pass']}" for p in warm}}
    samples = op_samples(spans, warm_ids)
    ops = [s["wall_s"] for s in samples]
    t, pct, n = tail(ops)
    by_op = {}
    for s in samples:
        by_op.setdefault(op_name(s), []).append(s["wall_s"])
    metrics = {
        "setup_s": (raw["session_s"] + median(first["builds_s"]), "s"),
        "first_pass_s": (first["wall_s"], "s"),
        "pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "op_p50_s": (median(ops), "s"),
        "op_tail_s": (t, "s"),
    }
    notes = {"op_tail_percentile": round(pct, 1), "op_samples": n,
             "warm_passes": len(warm),
             "op_median_s": {k: round(median(v), 4) for k, v in by_op.items()}}
    return metrics, notes


LAYER_KEYS = ["jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "scan_bytes", "scan_rows", "write_bytes"]


def _union_len(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def pass_layers(raw, spans, p):
    """Per-layer figures for one pass span."""
    sub = spans.subtree(p)
    ids = {s["id"] for s in sub}
    m = {k: sum(s.get(k, 0.0) for s in sub) for k in LAYER_KEYS}
    m["peak_exec_mem_mb"] = max([s.get("peak_exec_mem_mb", 0.0) for s in sub] + [0.0])
    constructs = [s for s in sub if s["kind"] == "construct"]
    m["construct_s"] = sum(s["wall_s"] for s in constructs)
    m["construct_jobs"] = sum(s.get("jobs", 0.0) for s in constructs)
    jobs = [(sp, a, b) for sp, a, b in raw["jobs"] if sp in ids]
    m["plan_ms"] = sum(d for a, d in raw["plans"] if p["start_ms"] <= a <= p["end_ms"])
    # op wall during which no job of the op runs
    driver_only = 0.0
    for o in sub:
        if o["kind"] in ("op", "monitor") and (o["kind"] == "monitor" or
                                               spans.by_id[o["parent"]]["kind"] != "monitor"):
            oids = {s["id"] for s in spans.subtree(o)}
            busy = _union_len([(max(a, o["start_ms"]), min(b, o["end_ms"]))
                               for sp, a, b in jobs if sp in oids and b > a])
            driver_only += max(0.0, o["wall_s"] - busy / 1e3)
    m["driver_only_s"] = driver_only
    m["core_util"] = m["exec_run_s"] / (p["wall_s"] * CORES) if p["wall_s"] else 0.0
    m["gc_s"] = p.get("gc_s", 0.0)
    m["codegen_compiles"] = p.get("codegen_compiles", 0.0)
    pub = p.get("published_bytes", 0.0)
    m["write_amp"] = m["write_bytes"] / pub if pub else 0.0
    mons = [s for s in sub if s["kind"] == "monitor"]
    m["state_rows"] = sum(s.get("state_rows", 0.0) for s in mons)
    m["state_mem_bytes"] = sum(s.get("state_mem_bytes", 0.0) for s in mons)
    m["state_commit_ms"] = sum(s.get("state_commit_ms", 0.0) for s in mons)
    mon_s = sum(s["wall_s"] for s in mons)
    m["rows_per_s"] = sum(s.get("input_rows", 0.0) for s in mons) / mon_s if mon_s else 0.0
    for layer in LAYERS:
        m[f"self.{layer}"] = sum(
            s["wall_s"] - sum(k["wall_s"] for k in spans.kids.get(s["id"], []))
            for s in sub if s["layer"] == layer)
    return m


PER_PASS = [  # (metric, key in pass_layers, unit)
    ("catalog.construct_s", "construct_s", "s"),
    ("catalog.construct_jobs", "construct_jobs", "count"),
    ("spark.plan_ms", "plan_ms", "ms"),
    ("spark.jobs", "jobs", "count"),
    ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.driver_only_s", "driver_only_s", "s"),
    ("spark.exec_run_s", "exec_run_s", "s"),
    ("spark.exec_cpu_s", "exec_cpu_s", "s"),
    ("spark.core_util", "core_util", "ratio"),
    ("spark.gc_s", "gc_s", "s"),
    ("spark.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "spill_bytes", "bytes"),
    ("spark.peak_exec_mem_mb", "peak_exec_mem_mb", "MB"),
    ("spark.codegen_compiles", "codegen_compiles", "count"),
    ("sources.scan_bytes", "scan_bytes", "bytes"),
    ("sources.scan_rows", "scan_rows", "count"),
    ("sources.write_bytes", "write_bytes", "bytes"),
    ("sources.write_amp", "write_amp", "ratio"),
    ("streaming.state_rows", "state_rows", "count"),
    ("streaming.state_mem_bytes", "state_mem_bytes", "bytes"),
    ("streaming.state_commit_ms", "state_commit_ms", "ms"),
    ("streaming.rows_per_s", "rows_per_s", "1/s"),
] + [(f"layer.{x}.self_s", f"self.{x}", "s") for x in LAYERS]
FIRST_PASS = [("spark.first_pass_plan_ms", "plan_ms", "ms"),
              ("spark.first_pass_codegen_compiles", "codegen_compiles", "count")]
OPS = {  # the per-op metrics, by workload
    "mine_iterative": ["graph.d25_hits.s", "sim.s17_probe_sweep.s", "text.t18_bpe_merges.s"],
    "publish_fresh": ["etl.q17_etl_pipeline.s", "dedup.pub_split.s", "etl.pub_kept.s",
                      "etl.pub_plan.s", "etl.pub_datasheet.s", "sources.pub_export.s",
                      "streaming.tws.batch_s"],
}


def per_layer(raw, spans):
    traced = {f"pass{p['pass']}" for p in raw["passes"][1:] if p["traced"]}
    untraced = [p["wall_s"] for p in raw["passes"][1:] if not p["traced"]]
    tp = [s for s in spans.passes() if s["name"] in traced]
    rows = [pass_layers(raw, spans, p) for p in tp]
    metrics = {name: (median([r[key] for r in rows]), unit) for name, key, unit in PER_PASS}
    first = pass_layers(raw, spans, next(s for s in spans.passes() if s["name"] == "pass1"))
    for name, key, unit in FIRST_PASS:
        metrics[name] = (first[key], unit)
    samples = {}
    for s in op_samples(spans, {p["id"] for p in tp}):
        samples.setdefault(op_name(s), []).append(s["wall_s"])
    for names in OPS.values():
        for n in names:
            metrics[n] = (median(samples.get(n, [])), "s")
    metrics["spark.driver_heap_peak_mb"] = (
        max(s.get("heap_after_gc_mb", 0.0) for s in spans.all), "MB")
    overhead = median([s["wall_s"] for s in tp]) - median(untraced)
    metrics["trace.overhead_s"] = (overhead, "s")
    return metrics, rows, first, overhead, median(untraced)


def write_report(path, workload, metrics, rows, first, overhead, untraced_pass_s):
    with open(path, "w") as f:
        f.write(f"# {workload}: per-layer report (median over {len(rows)} traced warm passes)\n")
        f.write(f"tracing overhead: {overhead:+.4f} s per pass "
                f"({100 * overhead / untraced_pass_s if untraced_pass_s else 0:+.1f} % "
                f"of the untraced pass_s {untraced_pass_s:.4f} s)\n\n")
        f.write("## self time by layer (s per pass)\n")
        for x in LAYERS:
            f.write(f"{x:10s} {metrics[f'layer.{x}.self_s'][0]:.4f}\n")
        f.write("\n## counters\n")
        for name, (v, unit) in metrics.items():
            f.write(f"{name:40s} {v:.6g} {unit}\n")
        f.write("\n## first pass\n")
        for k, v in first.items():
            f.write(f"{k:40s} {v:.6g}\n")


# ---------------------------------------------------------------- main

def fail_setup(msg):
    log(msg)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM (say, from a timeout) unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/make_scale_dir.py", "tools/check.py"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail_setup(f"not a graft checkout: {need} is missing under {ROOT}")
    for tool in ["java", "sbt"]:
        if shutil.which(tool) is None:
            fail_setup(f"{tool} not found")

    cp = build()
    t_start = time.time()
    import gen

    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        data = os.path.join(work, "input")
        sizes = gen.generate(ROOT, data, a.seed)
        print(json.dumps({"input": {"workload": a.workload, "seed": a.seed, "tables": sizes}}))
        raw_path = os.path.join(work, "raw.json")
        cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dderby.system.home={work}"]
               + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
                  "--data", data, "--work", work, "--out", raw_path,
                  "--seconds", str(a.seconds), "--trace", str(a.trace)])
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(raw_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"benchmark JVM failed ({rc})")
        with open(raw_path) as f:
            raw = json.load(f)
        spans = Spans(raw_path + ".spans.jsonl")

        failed = len(raw["failures"])
        attempted = raw["attempted"]
        for fl in raw["failures"]:
            log(f"failed: {fl['what']}: {fl['error']}")
        bad = oracle_checks(data, os.path.join(work, "check"), raw["oracles"])
        attempted += len(raw["oracles"])
        failed += len(bad)
        if "publish_n_docs" in raw["facts"]:
            attempted += 1
            failed += 0 if publish_checks(data, raw["facts"]) else 1

        if a.trace:
            metrics, rows, first, overhead, base = per_layer(raw, spans)
            tag = f"{a.workload}-s{a.seed}"
            shutil.copy(raw_path + ".spans.jsonl", os.path.join(out_dir, f"{tag}-spans.jsonl"))
            write_report(os.path.join(out_dir, f"{tag}-report.txt"), a.workload,
                         metrics, rows, first, overhead, base)
            print(f"tracing overhead: {overhead:+.4f} s per pass on a "
                  f"{base:.4f} s untraced pass ({a.workload}, seed {a.seed})")
        else:
            metrics, notes = end_to_end(raw, spans)
            print(json.dumps({"notes": notes, "error_rate": failed / attempted,
                              "checks": raw["checks"]}))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
