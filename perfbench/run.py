#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload headline|neardup|index \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the program and
the harness from source with sbt (offline) into .bench_build/ and target/;
later runs reuse the build while the sources are unchanged. Each run starts
one JVM on local[<cores>] (see Main.scala), checks every output, and prints
the metrics by name with their units; the last line of stdout is one JSON
object. With --trace 1 it reports the per-layer metrics instead, and writes
the spans and a per-step layer table under .bench_build/run/<workload>/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import struct
import subprocess
import sys
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("headline", "neardup", "index")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("ok_frac", "ratio"), ("peak_rss_mb", "MB"), ("answer_recall", "ratio")]
WORKLOAD_FIGURES = [("failed_frac", "ratio"), ("build_s", "s"),
                    ("stored_bytes_per_input_byte", "ratio"), ("pq_recall_at_5", "ratio"),
                    ("lsh_recall_at_5", "ratio"), ("planted_recall", "ratio")]
# Figures only the index workload measures. It runs on demand and is not in
# BENCHMARK.json, so the other workloads leave them out of their results.
INDEX_ONLY = {"build_s", "stored_bytes_per_input_byte", "pq_recall_at_5", "lsh_recall_at_5",
              "ops.dedup.band_index_write_s", "ops.dedup.link_s", "ops.dedup.link_pairs",
              "ops.pq.codebooks_s", "ops.pq.encode_write_s", "ops.pq.adc_topk_s",
              "functions.similarity.topk_lsh_s"}
PER_LAYER_UNITS = {"_s": "s", "_mb": "MB", "_ns_per_doc": "ns", "_ns_per_vec": "ns"}


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_fingerprint():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "project", ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft and the harness; returns the JVM classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}; run from the root of a graft checkout", 2)
    fp, cp_file, fp_file = sources_fingerprint(), BUILD / "classpath.txt", BUILD / "fingerprint"
    if cp_file.is_file() and fp_file.is_file() and fp_file.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    # offline: dependencies come from the local caches the toolchain ships
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    try:
        out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], cwd=HERE, env=env,
                             capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed", 3)
    cp_file.write_text(lines[-1])
    fp_file.write_text(fp)
    return lines[-1]


def run_jvm(cp, args, work):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cores = len(os.sched_getaffinity(0))
    (work / "tmp").mkdir(parents=True)
    # The parallel collector: with G1, pass times kept drifting down for more
    # passes after warm-up and spread wider from run to run on 4 cores.
    cmd = [str(java), "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--work", str(work), "--out", str(work / "result.json")]
    log = work / "jvm.log"
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM failed ({rc})", 4)
    return json.loads((work / "result.json").read_text())


# ---- output check of the headline queries against DuckDB ------------------

def _cell(v):
    """Canonical cell: floats by their IEEE bits (so -0.0 != +0.0 and NaN ==
    NaN, as tools/check.py compares), missing values as None."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("nan",) if isinstance(v, float) else None
    if isinstance(v, float):
        return struct.pack("<d", v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def oracle_check(extra):
    """Runs each headline query's Registry oracle SQL on DuckDB over the
    generated tables and compares it with graft's result, columns sorted by
    name and rows in order (tools/check.py's canonical form). Returns
    {query: (ok, matched rows, oracle rows, detail)}."""
    import duckdb
    con = duckdb.connect()
    tables = Path(extra["tables"])
    for t in sorted(tables.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    out = {}
    for name, q in sorted(extra["oracle"].items()):
        if not q["sql"]:
            out[name] = (True, 0, 0, "no oracle SQL")
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{q['dump']}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            exp = con.execute(q["sql"])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:  # a failing oracle run is a failed check
            out[name] = (False, 0, 1, f"{type(e).__name__}: {e}")
            continue
        if sorted(gcols) != sorted(ecols):
            out[name] = (False, 0, len(erows), f"columns {sorted(gcols)} != {sorted(ecols)}")
            continue
        gi = [gcols.index(c) for c in sorted(gcols)]
        ei = [ecols.index(c) for c in sorted(ecols)]
        g = [tuple(_cell(r[i]) for i in gi) for r in grows]
        e = [tuple(_cell(r[i]) for i in ei) for r in erows]
        matched = sum((Counter(g) & Counter(e)).values())
        ok = g == e
        out[name] = (ok, matched, len(e), "" if ok else
                     f"{len(g)} rows vs {len(e)} oracle rows, {matched} matched")
    return out


# ---- metrics ---------------------------------------------------------------

def end_to_end(r, oracle):
    failed_prefixes = [c["name"] for c in r["checks"] if not c["ok"]]
    failed_prefixes += [q for q, v in oracle.items() if not v[0]]
    timed = [x for x in r["records"] if x["pass"] >= 0]
    untraced = [x for x in timed if not x["traced"]]
    attempted, failed, _, _ = stats.account(timed, failed_prefixes)
    _, _, untraced_ops, clean = stats.account(untraced, failed_prefixes)
    # With every operation failed no clean sample is left; the metrics then
    # fall back to all samples so the line stays valid, and correct is false.
    clean = clean or [x["dur_s"] for x in untraced if x["step"] == "__pass__"]
    untraced_ops = untraced_ops or [x["dur_s"] for x in untraced if x["step"] != "__pass__"]
    q = r["quality"]
    if r["workload"] == "headline":
        recall = sum(v[1] for v in oracle.values()) / max(1, sum(v[2] for v in oracle.values()))
    elif r["workload"] == "neardup":
        recall = q.get("planted_recall", 0.0)
    else:
        recall = (q.get("pq_recall_at_5", 0.0) + q.get("lsh_recall_at_5", 0.0)) / 2
    tail_v, tail_pct, tail_n, tail_beyond = stats.tail(untraced_ops)
    builds = [x["dur_s"] for x in untraced if x["step"] == "index.build" and x["ok"]]
    m = {
        "setup_s": r["session_s"] + r["inputs_s"] + r["warmup_s"],
        "pass_s": stats.median(clean),
        "op_p50_s": stats.median(untraced_ops),
        "op_tail_s": tail_v,
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": r["peak_rss_mb"],
        "answer_recall": recall,
    }
    figures = {
        "failed_frac": failed / attempted,
        "build_s": stats.median(builds) if builds else 0.0,
        "stored_bytes_per_input_byte": q.get("stored_bytes_per_input_byte", 0.0),
        "pq_recall_at_5": q.get("pq_recall_at_5", 0.0),
        "lsh_recall_at_5": q.get("lsh_recall_at_5", 0.0),
        "planted_recall": q.get("planted_recall", 0.0),
    }
    notes = {
        "setup_s": f"session {r['session_s']:.3f} s + inputs {r['inputs_s']:.3f} s "
                   f"+ warm-up passes {r['warmup_s']:.3f} s",
        "pass_s": f"median of {len(clean)} passes",
        "op_p50_s": f"n={len(untraced_ops)}",
        "op_tail_s": (f"p{tail_pct:.0f} of n={tail_n}, {tail_beyond} samples beyond" if tail_beyond
                      else f"max of n={tail_n}: fewer than {stats.TAIL_BEYOND + 1} samples"),
        "failed_frac": f"{failed} of {attempted} operations",
    }
    return m, figures, notes, attempted, failed, not failed_prefixes and failed == 0


def unit_of(name):
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("_frac", "_busy", "_per_result", "_per_input_byte",
                                     "recall", "recall_at_5")) else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    work = BUILD / "run" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    r = run_jvm(cp, args, work)
    oracle = oracle_check(r["extra"]) if r["workload"] == "headline" else {}
    m, figures, notes, attempted, failed, correct = end_to_end(r, oracle)

    print(f"workload {args.workload}  seed {args.seed}  cores {r['cores']}  "
          f"measured {r['measured_s']:.1f} s  trace {args.trace}")
    keep = (lambda k: True) if args.workload == "index" else (lambda k: k not in INDEX_ONLY)
    for name, unit in END_TO_END + WORKLOAD_FIGURES:
        if not keep(name):
            continue
        v = m.get(name, figures.get(name))
        print(f"  {name:30s} {v:14.6f} {unit:6s} {notes.get(name, '')}")
    for e in r.get("probe_errors", []):
        print(f"  probe FAILED {e}")
    for c in r["checks"]:
        print(f"  check {c['name']:40s} {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    for qname, (ok, matched, total, detail) in sorted(oracle.items()):
        print(f"  oracle {qname:39s} {'ok' if ok else 'FAILED'} {matched}/{total} rows {detail}")

    metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    if args.trace:
        lm, per_step = stats.layers(r)
        untraced = [x["dur_s"] for x in r["records"]
                    if x["step"] == "__pass__" and x["pass"] >= 0 and not x["traced"]]
        traced = [x["dur_s"] for x in r["records"]
                  if x["step"] == "__pass__" and x["pass"] >= 0 and x["traced"]]
        lm["trace.overhead_frac"] = stats.median(traced) / stats.median(untraced) - 1
        lm.update(figures)
        lm = {k: v for k, v in lm.items() if keep(k)}
        with open(work / "spans.jsonl", "w") as f:
            for s in r["spans"]:
                f.write(json.dumps(s) + "\n")
        with open(work / "layers.txt", "w") as f:
            f.write(f"per-layer metrics, workload {args.workload} (per traced pass; "
                    f"ops.* per call)\n")
            for k in sorted(lm):
                f.write(f"  {k:40s} {lm[k]:16.6f} {unit_of(k)}\n")
            f.write("per step (traced passes)\n")
            for row in per_step:
                f.write("  " + json.dumps({k: round(v, 6) if isinstance(v, float) else v
                                           for k, v in row.items()}) + "\n")
            f.write("ops span self time (driver side): trace, span, wall s, self s\n")
            for t, n, d, st in stats.ops_self_times(r):
                f.write(f"  {t} {n} {d:.6f} {st:.6f}\n")
        print((work / "layers.txt").read_text(), end="")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(lm.items())}
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
