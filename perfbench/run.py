"""Layered benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>] [--input-dir <dir>]

Builds the program from the checkout's sources (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py), runs one workload in a
single JVM on ``local[n]`` (perfbench/harness/Harness.scala), checks every
output, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. The full record, spans included, goes to
``.bench_build/perfbench/results/``.

Workloads (why each exists is recorded in BENCHMARK.json):
  batch_mix      registered queries of every module, each pass in a seeded order
  ingest_stream  seeded micro-batches through the landed precedence door

Everything a run writes lives under ``.bench_build/perfbench``; the
warehouse, checkpoints and ``spark.local.dir`` of a run live in a
temporary directory there that is removed when the run ends.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

SF = 0.01
HEAP = "3g"
JVM_TIMEOUT_S = 165
DEFAULT_CORES = 4
MAX_LINE = 1800

# Ops of the batch workload: a fixed sample with at least one registered
# query of every module, small enough that a run (one cold pass, two
# set-up passes, five timed passes) stays near a minute on four cores at
# SF. Each entry names the mechanism it covers.
BATCH_OPS = [
    "q01_pricing_summary",       # relational: scan + decimal aggregates
    "q96_copurchase_pairs",      # relational: session memo
    "q56_bucketed_join",         # io: bucketed landing
    "q140_image_dhash",          # images: decode + hash kernels
    "q205_audio_roundtrip",      # multimodal: codecs
    "q24_token_counts",          # text: compiled token kernel
    "q185_bpe_train",            # text: trained-merges memo
    "q41_minhash_lsh_pairs",     # llm: shingle-group memo, LSH
    "q207_html_extract",         # web: WARC index memo, HTML extraction
]
WORKLOADS = {
    "batch_mix": {"ops": BATCH_OPS, "min_passes": 5},
    "ingest_stream": {"batch_docs": 20, "refresh_every": 4, "min_passes": 2,
                      "warmup_batches": 1, "timed_batches": 400},
}

MODULES = ["relational", "text", "llm", "web", "io", "images", "multimodal"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ args

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True)
    p.add_argument("--seconds", required=True)
    p.add_argument("--trace", required=True)
    p.add_argument("--cores")
    p.add_argument("--input-dir")
    a = p.parse_args(argv)
    if a.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    a.seed = _int("--seed", a.seed, 0, 2**31 - 1)
    a.seconds = _int("--seconds", a.seconds, 1, 600)
    a.trace = _int("--trace", a.trace, 0, 1)
    n = nproc()
    a.cores = _int("--cores", a.cores, 1, n) if a.cores is not None else min(DEFAULT_CORES, n)
    if a.input_dir is not None:
        d = Path(a.input_dir)
        missing = [t for t in gen.TABLES if not (d / f"{t}.parquet").is_file()]
        if not d.is_dir() or missing:
            raise BenchError(f"--input-dir {a.input_dir!r} is not a directory holding "
                             f"the tables {missing or gen.TABLES}")
        a.input_dir = d.resolve()
    return a


def _int(flag, s, lo, hi):
    if not re.fullmatch(r"[0-9]+", str(s)) or not lo <= int(s) <= hi:
        raise BenchError(f"{flag} must be an integer in [{lo}, {hi}], got {s!r}")
    return int(s)


# ---------------------------------------------------------------- inputs

def inputs(seed):
    """The generated tables for ``seed``, cached per seed."""
    d = OUT / "inputs" / f"sf{SF}-seed{seed}"
    if not (d / "OK").exists():
        tmp = Path(tempfile.mkdtemp(dir=OUT / "inputs", prefix="gen-"))
        gen.write(SF, seed, str(tmp))
        (tmp / "OK").write_text("ok\n")
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


# ---------------------------------------------------------------- oracle

def canon(v):
    """Canonical rendering of one value; Harness.scala's Canon mirrors it."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if v != v:
            return "fnan"
        if v in (float("inf"), float("-inf")):
            return "f+inf" if v > 0 else "f-inf"
        return "f0" if v == 0 else "f" + _dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return "d" + _dec(v)
    if isinstance(v, str):
        return f"s{len(v)}:{v}"
    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo and datetime.timezone.utc)
        return f"t{(v - epoch) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"D{(v - datetime.date(1970, 1, 1)).days}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    return f"?{v}"


def _dec(d):
    if d == 0:
        return "0"
    s = format(d, "f")
    return s.rstrip("0").rstrip(".") if "." in s else s


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(
        hashlib.md5("\u0001".join(canon(r[i]) for i in order).encode()).hexdigest()
        for r in rows)
    header = "\u0001".join(columns[i] for i in order)
    return hashlib.sha256((header + "\n" + "\n".join(hashes)).encode()).hexdigest()


def oracle(name, sql, data_dir, cached):
    """(rows, digest) of the DuckDB oracle. Generated tables' content does
    not depend on the seed, so their results are cached on the generator,
    the scale and the SQL."""
    key = hashlib.sha256((Path(gen.__file__).read_text() + f"|{SF}|{name}|{sql}")
                         .encode()).hexdigest()[:24]
    cache = OUT / "oracle" / f"{key}.json"
    if cached and cache.exists():
        return json.loads(cache.read_text())
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    rows = cur.fetchall()
    con.close()
    out = {"rows": len(rows), "digest": digest(cols, rows)}
    if cached:
        cache.parent.mkdir(parents=True, exist_ok=True)
        cache.write_text(json.dumps(out))
    return out


def check_batch(rec, data_dir, cached):
    """{query: reason} for every op whose result is wrong. A query with an
    oracle must match its digest; one without (the approximate sketches)
    must return rows."""
    bad = {}
    for name, r in rec["results"].items():
        if r.get("error"):
            bad[name] = "first run threw: " + r["error"][:200]
        elif r.get("oracle"):
            try:
                o = oracle(name, r["oracle"], data_dir, cached)
            except Exception as e:  # an oracle that cannot run is a failed check
                bad[name] = f"oracle error: {e}"[:200]
                continue
            if (o["rows"], o["digest"]) != (r["rows"], r["digest"]):
                bad[name] = f"digest mismatch: {r['rows']} rows vs oracle {o['rows']}"
        elif r["rows"] <= 0:
            bad[name] = "no oracle and no rows"
    return bad


# --------------------------------------------------------------- metrics

def pct(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def med(values):
    return statistics.median(values) if values else 0.0


def end_to_end(rec, attempted, failed):
    passes = [p["s"] for p in rec["passes"] if not p["traced"]]
    lat = [o["s"] for o in rec["ops"] if o["s"] is not None and not o["traced"]]
    if not passes or not lat:
        raise BenchError("the run completed no untraced pass")
    return {
        "setup_s": (med(rec["setup_rounds_s"]), "s"),
        "pass_s": (med(passes), "s"),
        "op_s.p50": (pct(lat, 0.5), "s"),
        "retained_mb": (rec["retained_mb"], "MB"),
        "ok_ratio": (1 - failed / attempted, "ratio"),
    }


# Per-layer metrics, in the order the result line lists them. Times are
# summed over a pass in integer microseconds (Spark's task counters in their
# own integer units) and converted once, so a value carries its measured
# digits and no float round-off; the line must stay under MAX_LINE.
LAYER = [
    ("build.s", "s"), ("build.jobs", "count"), ("plan.s", "s"), ("exec.s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.sched_delay_s", "s"), ("exec.slot_use", "ratio"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
] + [(f"{m}.s", "s") for m in MODULES] + [
    ("io.landing_s", "s"), ("io.landed_tables", "count"), ("memo.build_s", "s"),
    ("dist.broadcast_approvals", "count"),
    ("stream.add_batch_s", "s"), ("stream.query_planning_s", "s"),
    ("stream.wal_commit_s", "s"), ("stream.state_rows", "count"),
    ("stream.docs_per_s", "1/s"), ("stream.refresh_s", "s"),
    ("log.errors", "count"), ("trace.overhead", "ratio"),
]
# integer counter of a phase -> (metric, divisor to the metric's unit)
RAW = {"jobs": ("exec.jobs", 1), "stages": ("exec.stages", 1), "tasks": ("exec.tasks", 1),
       "task_run_ms": ("exec.task_run_s", 1e3), "task_cpu_ns": ("exec.task_cpu_s", 1e9),
       "gc_ms": ("exec.gc_s", 1e3), "sched_delay_ms": ("exec.sched_delay_s", 1e3),
       "shuffle_read_bytes": ("exec.shuffle_read_mb", 1e6),
       "shuffle_write_bytes": ("exec.shuffle_write_mb", 1e6)}
US = 1e6


def us(seconds):
    return int(round(seconds * US))


def per_layer(rec, log_errors):
    """Per-layer metrics of a traced run: each pass-level figure is the
    median over the traced passes (cycles for the stream)."""
    stream = rec["workload"] == "ingest_stream"
    traced = [p["pass"] for p in rec["passes"] if p["traced"]]
    if not traced:
        raise BenchError("the traced run completed no traced pass")
    per = {p: {} for p in traced}

    def add(p, k, v, div):
        if p in per:
            acc = per[p].setdefault(k, [0, div])
            acc[0] += v

    cycle_of = {o.get("batch"): o.get("cycle") for o in rec["ops"]}
    for op_id, phases in rec.get("phases", {}).items():
        p = cycle_of.get(int(op_id[1:])) if stream else int(op_id.split(":")[0][1:])
        for phase, cnt in phases.items():
            if phase == "build":
                add(p, "build.jobs", cnt["jobs"], 1)
            elif phase == "exec":
                for raw, (name, div) in RAW.items():
                    add(p, name, cnt[raw], div)
    if stream:
        for o in rec["ops"]:
            if o["s"] is not None:
                add(o["cycle"], "exec.s", us(o["s"]), US)
        for pr in rec["progress"]:
            p = cycle_of.get(int(pr["op"][1:])) if pr["op"].startswith("b") else None
            for k in ("add_batch", "query_planning", "wal_commit"):
                add(p, f"stream.{k}_s", us(pr[f"{k}_s"]), US)
            add(p, "plan.s", us(pr["query_planning_s"]), US)
    else:
        for sp in rec["spans"]:
            p = int(sp["op"].split(":")[0][1:])
            for k in ("build", "plan", "exec"):
                add(p, f"{k}.s", us(sp[f"{k}_s"]), US)
            add(p, f"{sp['module']}.s", us(sp["wall_s"]), US)

    def pass_median(name):
        return med([(per[p][name][0] / per[p][name][1] if per[p][name][1] != 1
                     else per[p][name][0]) if name in per[p] else 0 for p in traced])

    out = {name: pass_median(name) for name, _ in LAYER if name in PER_PASS}
    out["exec.slot_use"] = med([per[p]["exec.task_run_s"][0] / per[p]["exec.task_run_s"][1] /
                                (rec["cores"] * per[p]["exec.s"][0] / US)
                                for p in traced
                                if "exec.task_run_s" in per[p] and per[p].get("exec.s", [0])[0]])
    out["io.landing_s"] = sum(us(v) for v in rec["landings_s"].values()) / US
    out["io.landed_tables"] = rec["landed_tables"]
    out["memo.build_s"] = sum(us(v) for v in rec["memo_builds_s"].values()) / US
    out["dist.broadcast_approvals"] = rec["broadcast_approvals"]
    timed = [pr for pr in rec.get("progress", []) if pr["op"].startswith("b")]
    out["stream.state_rows"] = med([pr["state_rows"] for pr in timed])
    docs = sum(o.get("docs", 0) for o in rec["ops"] if o["s"] is not None)
    out["stream.docs_per_s"] = docs / rec["timed_s"] if stream else 0
    out["stream.refresh_s"] = (med([us(p["refresh_s"]) for p in rec["passes"]]) / US
                               if stream else 0)
    out["log.errors"] = log_errors
    untraced = [p["s"] for p in rec["passes"] if not p["traced"]]
    out["trace.overhead"] = (med([p["s"] for p in rec["passes"] if p["traced"]]) /
                             med(untraced)) if untraced else 0
    return {name: (out[name], unit) for name, unit in LAYER}


PER_PASS = {"build.s", "build.jobs", "plan.s", "exec.s", "stream.add_batch_s",
            "stream.query_planning_s", "stream.wal_commit_s"} | \
    {name for name, _ in RAW.values()} | {f"{m}.s" for m in MODULES}


# ------------------------------------------------------------------- run

def run(a):
    OUT.mkdir(parents=True, exist_ok=True)
    (OUT / "inputs").mkdir(exist_ok=True)
    cp = build.build()
    data = a.input_dir or inputs(a.seed)
    wl = WORKLOADS[a.workload]
    work = Path(tempfile.mkdtemp(dir=OUT, prefix="run-"))
    try:
        (work / "tmp").mkdir()
        record = work / "record.json"
        args = [f"workload={a.workload}", f"data={data}", f"work={work}",
                f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}",
                f"cores={a.cores}", f"out={record}"]
        if a.workload == "ingest_stream":
            arr = gen.arrivals(data, a.seed, str(work / "arrivals.tsv"), wl["warmup_batches"],
                               wl["timed_batches"], wl["batch_docs"])
            args += [f"arrivals={arr}", f"refresh_every={wl['refresh_every']}"]
        else:
            args.append("ops=" + ",".join(wl["ops"]))
        args.append(f"min_passes={wl['min_passes']}")
        # The first run in a checkout dumps the classes it loaded into a
        # class-data archive; later runs map it instead of loading and
        # verifying Spark's classes again (seconds of every run's start).
        cds = OUT / f"classes-{hashlib.sha256(cp.encode()).hexdigest()[:16]}.jsa"
        cds_flag = (f"-XX:SharedArchiveFile={cds}" if cds.exists()
                    else f"-XX:ArchiveClassesAtExit={cds.with_suffix('.tmp')}")
        cmd = (["java"] + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] +
               [cds_flag, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
                "-cp", cp, "perfbench.Harness"] + args)
        err = work / "stderr.log"
        t_jvm = time.time()
        with open(work / "stdout.log", "w") as so, open(err, "w") as se:
            proc = subprocess.Popen(cmd, stdout=so, stderr=se, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise BenchError(f"the JVM ran past {JVM_TIMEOUT_S}s and was stopped")
        log = err.read_text(errors="replace")
        if rc != 0 or not record.exists():
            causes = [ln for ln in log.splitlines()
                      if re.match(r"(Exception|Caused by|\S+(Exception|Error)\b)", ln)]
            raise BenchError(f"the JVM exited with {rc}:\n" + "\n".join(causes[:8])[-3000:])
        if not cds.exists() and cds.with_suffix(".tmp").exists():
            cds.with_suffix(".tmp").rename(cds)
        rec = json.loads(record.read_text())
        rec["jvm_wall_s"] = time.time() - t_jvm
        rec["log_errors"] = len(re.findall(r"^\S+ \S+ ERROR ", log, re.M))
        return summarize(a, rec, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize(a, rec, data):
    failures = list(rec["failures"])
    if a.workload == "ingest_stream":
        attempted = len(rec["ops"])
        bad_batches = set(rec["failed_batches"]) | {o["batch"] for o in rec["ops"]
                                                    if o["s"] is None}
        failed = len(bad_batches)
    else:
        bad = check_batch(rec, data, a.input_dir is None)
        failures += [{"op": n, "phase": "check", "error": why} for n, why in bad.items()]
        attempted = len(rec["ops"])
        failed = sum(1 for o in rec["ops"] if o["s"] is None or o["name"] in bad)
    attempted = max(attempted, 1)
    metrics = (per_layer(rec, rec["log_errors"]) if a.trace
               else end_to_end(rec, attempted, failed))
    rec["failures"] = failures
    rec["fail_ratio"] = failed / attempted
    lat = [o["s"] for o in rec["ops"] if o["s"] is not None and not o["traced"]]
    if lat:
        rec["op_latency_s"] = {"n": len(lat), "p50": pct(lat, 0.5), "p90": pct(lat, 0.9)}
    rec["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    res = OUT / "results"
    res.mkdir(parents=True, exist_ok=True)
    (res / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(rec))
    return final_line(failed == 0, attempted, failed, metrics)


def final_line(correct, attempted, failed, metrics):
    line = json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u}
                                   for k, (v, u) in metrics.items()}},
                      separators=(",", ":"))
    if len(line) > MAX_LINE:
        raise BenchError(f"result line is {len(line)} characters, over {MAX_LINE}")
    return line


def main(argv):
    try:
        a = parse_args(argv)
        t0 = time.time()
        line = run(a)
    except (BenchError, build.BuildError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(f"perfbench: {a.workload} seed {a.seed} done in {time.time() - t0:.1f}s",
          file=sys.stderr)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
