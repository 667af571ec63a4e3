#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 graftbench/run.py --workload cdc_backlog --seed 1 --seconds 20 --trace 0

Builds graft and the JVM harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the workload in one JVM
at local[<cores>], checks graft's outputs against the generator's oracles,
and prints one JSON object as the last line of standard output. With
`--trace 1` the metrics are the per-layer ones and the span file and
self-time table land in `.graftbench/traces/`.
"""
import argparse
import decimal
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".graftbench"
WORKLOADS = ("cdc_backlog", "curate")
JVM_DEADLINE_S = 170  # a run must end within 180 s

sys.path.insert(0, str(BENCH))
import gen  # noqa: E402  (the generator lives beside this file)


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((BENCH / "src").rglob("*")) + \
        [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness (once per source state); return the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name a Spark install")
    target = BENCH / "target"
    stamp, cp_file = target / "graftbench.stamp", target / "graftbench.classpath"
    digest = sources_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text()
    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=BENCH, env=env, capture_output=True, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed", 1)
    target.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def java_cmd(cp, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # graft's build.sbt runs with G1 and an 8 GB heap; the parallel collector
    # and 3 GB take 4-5 s less set-up a run (the README has the figures), and
    # the heap peaks near 1.1 GB. -XX:-UsePerfData keeps the JVM from writing
    # its perf file outside the checkout.
    return cmd + ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={work}/spark-local",
                  f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graftbench.Main"] + args


def load_queries():
    text = (BENCH / "queries.sql").read_text()
    out = {}
    for block in text.split("-- name: ")[1:]:
        name, sql = block.split("\n", 1)
        out[name.strip()] = sql.strip().rstrip(";")
    return out


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def same_rows(got, want, tol=1e-6):
    """Row lists equal, numbers within a relative tolerance (decimal sums
    come back as strings from Spark and as Decimals from DuckDB)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if hasattr(b, "isoformat"):
                b = b.isoformat()[:10]
            if isinstance(b, (int, float, decimal.Decimal)) and not isinstance(b, bool):
                try:
                    a, b = float(a), float(b)
                except (TypeError, ValueError):
                    return False
                if abs(a - b) > tol * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
    return True


def verify(workload, g, res, corrupt):
    """Returns (attempted, failed, notes, layer extras) for one run."""
    ing, reads, chk = res["ingest"], res["reads"], res["check"]
    n_batches = len(ing["batch_ms"])
    attempted = n_batches + len(reads["ms"])
    failed = reads["mismatches"]
    notes = []
    extra = {"llm.dup_recall": 0.0, "llm.admit_ratio": 0.0}  # curate's guards
    if workload == "cdc_backlog":
        orders = g.expected_orders(chk["files_fed"])
        want = {"orders": gen.state_hash(gen.ORDER_COLS, orders),
                "lineitem": gen.state_hash(gen.LINE_COLS, g.lines)}
        if corrupt:
            want["orders"] = [want["orders"][0] + 1, want["orders"][1]]
        for t, h in want.items():
            if chk["state"][t] != h:
                failed += n_batches
                notes.append(f"{t} state {chk['state'][t]} != expected {h}")
        oracle = gen.report_oracle(g.work, orders, {n: q for n, q in load_queries().items()
                                                    if n in chk["results"]})
        for name, rows in chk["results"].items():
            if not same_rows(rows, oracle[name]):
                failed += 1
                notes.append(f"{name} differs from DuckDB over the expected tables")
    else:
        turns = ing["warmup_turns"] + ing["turns"]
        admitted = chk["admitted_ids"]
        if corrupt:
            g.docs[admitted[0]] = (g.docs[admitted[0]][0], "exact", None)
        bad, recall, admit = g.check(admitted, turns, chk["sources"])
        if bad:
            failed += ing["turns"]
            notes += bad
        extra = {"llm.dup_recall": recall, "llm.admit_ratio": admit}
    return attempted, min(failed, attempted), notes, extra


def end_to_end(workload, g, res, setup_s):
    ing, reads = res["ingest"], res["reads"]
    if workload == "curate":
        first = ing["warmup_turns"]
        items = sum(g.batch_sizes[first:first + ing["turns"]])
    else:
        items = ing["events"]
    return {
        "setup_s": setup_s,
        "events_per_s": items / (ing["wall_ms"] / 1000.0),
        "batch_ms_p50": p50(ing["batch_ms"]),
        "queries_per_s": queries_per_s(reads),
    }


def queries_per_s(reads):
    """Queries in the mix ÷ the sum of each query's median time."""
    by_name = {}
    for name, ms in zip(reads["names"], reads["ms"]):
        by_name.setdefault(name, []).append(ms)
    return len(by_name) / (sum(p50(xs) for xs in by_name.values()) / 1000.0)


def spec_metrics(kind):
    """{name: unit} of BENCHMARK.json's `end_to_end` or `per_layer` list."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def trace_overhead(workload, seed, trace, e2e):
    """Traced e2e minus untraced e2e, once both runs of a seed exist."""
    last = STATE / "last"
    last.mkdir(parents=True, exist_ok=True)
    mine = last / f"{workload}-s{seed}-trace{trace}.json"
    mine.write_text(json.dumps(e2e))
    other = last / f"{workload}-s{seed}-trace{1 - trace}.json"
    if not other.is_file():
        return None
    a = json.loads(other.read_text())
    b = e2e
    traced, untraced = (b, a) if trace else (a, b)
    out = {k: {"traced": traced[k], "untraced": untraced[k], "diff": traced[k] - untraced[k],
               "share": (traced[k] - untraced[k]) / untraced[k] if untraced[k] else None}
           for k in traced}
    (STATE / "traces").mkdir(parents=True, exist_ok=True)
    (STATE / "traces" / f"{workload}-s{seed}.overhead.json").write_text(json.dumps(out, indent=1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "small"), default="full")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="test hook: perturb the oracle so the run must report failures")
    a = ap.parse_args()
    # a terminated run still stops its JVM (the handler unwinds through jvm.wait)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    work = STATE / "work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    wall0 = time.time()  # set-up starts once the program is built
    log = open(work / "jvm.log", "w")
    jvm = subprocess.Popen(java_cmd(cp, work, [
        f"workload={a.workload}", f"work={work}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"cores={os.cpu_count()}", f"queries={BENCH / 'queries.sql'}"]),
        cwd=work, stdout=log, stderr=subprocess.STDOUT,
        env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local")))
    try:
        g = {"cdc_backlog": gen.CdcBacklog, "curate": gen.Curate}[a.workload](a.seed, a.scale)
        g.work = str(work)
        g.write(str(work))
        (work / "inputs.ready").touch()
        jvm.wait(timeout=JVM_DEADLINE_S - (time.time() - wall0))
    except BaseException:
        jvm.kill()
        jvm.wait()
        raise
    finally:
        log.close()
    res_file = work / "result.json"
    res = json.loads(res_file.read_text()) if res_file.is_file() else {"fatal": "no result"}
    if "fatal" in res or jvm.returncode != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        fail(f"workload failed: {res.get('fatal')}", 1)

    setup_s = res["setup_end_epoch_ms"] / 1000.0 - wall0
    t_jvm = time.time()
    attempted, failed, notes, extra = verify(a.workload, g, res, a.corrupt_expected)
    print(f"timing: window ended at {res['window_end_epoch_ms'] / 1000.0 - wall0:.1f}s, "
          f"JVM exited at {t_jvm - wall0:.1f}s, verified at {time.time() - wall0:.1f}s",
          file=sys.stderr)
    e2e = end_to_end(a.workload, g, res, setup_s)
    for n in notes:
        print(f"check failed: {n}", file=sys.stderr)
    ing, reads = res["ingest"], res["reads"]
    print(f"setup: session {res['session_ready_epoch_ms'] / 1000.0 - wall0:.1f}s of {setup_s:.1f}s; "
          f"samples: batches={len(ing['batch_ms'])} reads={len(reads['ms'])} "
          f"error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    print("batch ms: " + " ".join(f"{x:.0f}" for x in ing["batch_ms"]) +
          "; read ms: " + " ".join(f"{x:.0f}" for x in reads["ms"]), file=sys.stderr)
    kind, values = ("per_layer", dict(res.get("layers", {}), **extra)) if a.trace else \
        ("end_to_end", e2e)
    units = spec_metrics(kind)
    missing = sorted(set(units) - set(values))
    if missing:
        fail(f"no value for {', '.join(missing)}", 1)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    if a.trace:
        traces = STATE / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        stem = f"{a.workload}-s{a.seed}"
        shutil.copy(work / "spans.jsonl", traces / f"{stem}.spans.jsonl")
        shutil.copy(work / "selftime.txt", traces / f"{stem}.selftime.txt")
        print(f"fs statistics counted on this filesystem: {', '.join(res['fs_counted'])}")
        print((work / "selftime.txt").read_text().rstrip())
    overhead = trace_overhead(a.workload, a.seed, a.trace, e2e)
    if overhead:
        print("tracing overhead (traced - untraced): " + ", ".join(
            f"{k} {v['diff']:+.4g}" for k, v in overhead.items()))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
