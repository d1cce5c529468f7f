"""End-to-end benchmark of the streaming rule engine.

    python3 perfbench/run.py --workload paper_8rules --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark from
source on first use (`.bench_build/perfbench/`), writes the workload's
inputs, runs `perfbench.StreamRun` in one JVM, checks every output against
the model in `model.py` and prints, as its last line, one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`).
"""

import argparse
import copy
import datetime
import glob
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

import gen          # noqa: E402
import layers       # noqa: E402
import model        # noqa: E402

BUILD = os.path.join(".bench_build", "perfbench")
CORES = 4
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DEADLINE_S = 170

E2E_UNITS = {"setup_s": "s", "drain_eps": "events/s", "lat_lo_p50_ms": "ms",
             "lat_hi_p50_ms": "ms", "rule_pickup_p50_ms": "ms", "state_rows": "rows",
             "replay_eps": "events/s"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_hash(root):
    h = hashlib.sha1()
    paths = []
    for pat in ("build.sbt", "project/build.properties", "src/main/**/*",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/**/*"):
        paths += [p for p in glob.glob(os.path.join(root, pat), recursive=True) if os.path.isfile(p)]
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root):
    """Classpath of the benchmark, compiling the program and benchmark when
    their sources changed since the last build in this checkout."""
    stamp = os.path.join(root, BUILD, f"classpath-{sources_hash(root)}.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    log("[perfbench] building the program and the benchmark with sbt ...")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        sys.exit("[perfbench] build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def iso_ms(s):
    return datetime.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class Batch:
    def __init__(self, p):
        self.id = p["batchId"]
        self.start = iso_ms(p["timestamp"])
        self.dur = p["durationMs"]
        self.end = self.start + self.dur.get("triggerExecution", 0)
        self.rows = p["numInputRows"]
        wm = (p.get("eventTime") or {}).get("watermark")
        self.wm = int(iso_ms(wm)) if wm else 0
        ops = p.get("stateOperators") or []
        self.state = ops[0] if ops else None
        self.files = []


def batches_of(progress):
    out = {}
    for p in progress:     # a batch id reported twice keeps the last report
        out[p["batchId"]] = Batch(p)
    return [out[k] for k in sorted(out)]


def assign_files(batches, files):
    """Map each renamed file to the micro-batch that read it, from the
    per-batch input row counts (a batch reads whole files, in rename order)."""
    it = iter(files)
    where = {}
    for b in batches:
        need = b.rows
        while need > 0:
            f = next(it, None)
            if f is None or f["lines"] > need:
                raise RuntimeError(f"batch {b.id} rows do not end on a file boundary")
            need -= f["lines"]
            b.files.append(f)
            where[f["name"]] = b
    return where


def read_results(path, batch, results, dups):
    """Add one part file's result rows to rule_id -> {(group_id, ws): (value, batch, we)}."""
    with open(path) as f:
        text = f.read().strip()
    for r in json.loads("[" + text.replace("\n", ",") + "]") if text else ():
        key = (r["group_id"], r["window_start"])
        per = results.setdefault(r["rule_id"], {})
        if key in per:
            dups.append((r["rule_id"], key))
        per[key] = (r["result"], batch, r["window_end"])


def sink_results(sink_dir, by_id):
    """Results of the file sink, each with the micro-batch that wrote it
    (from the sink's log; a compacted log entry lists all earlier files too)."""
    meta = os.path.join(sink_dir, "_spark_metadata")
    seen, results, dups = set(), {}, []
    logs = sorted((n for n in os.listdir(meta) if n.split(".")[0].isdigit() and not n.endswith(".crc")),
                  key=lambda n: int(n.split(".")[0]))
    for name in logs:
        with open(os.path.join(meta, name)) as f:
            entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
        for e in entries:
            if e["path"] not in seen:
                seen.add(e["path"])
                path = e["path"][len("file:"):] if e["path"].startswith("file:") else e["path"]
                read_results(path, by_id[int(name.split(".")[0])], results, dups)
    return results, dups


def replay_results(path):
    results, dups = {}, []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        read_results(part, None, results, dups)
    return results, dups


class Timeline:
    """Which definition of one dynamic rule each metric micro-batch saw.

    A rule line is published while the control micro-batch that read it
    runs. A metric batch that starts after that batch ended sees the new
    definition; one that ended before it started sees the old one; any
    other metric batch is ambiguous (None). Rule changes apply in arrival
    order, as in the reference, so when one control batch reads several
    lines of a rule, the last one renamed is the definition after it."""

    def __init__(self, initial, ops, batches):
        groups = []             # (control batch, definition after it); ops in rename order
        self.shared = 0         # lines read by a control batch that read another line of the rule
        for c, d in ops:
            if groups and groups[-1][0] is c:
                groups[-1] = (c, d)
                self.shared += 1
            else:
                groups.append((c, d))
        self.status = []
        for b in batches:
            cur = initial
            amb = False
            for c, d in groups:
                if c.end <= b.start:
                    cur = d
                elif c.start < b.end:
                    amb = True
            self.status.append(None if amb else cur)
        # run_start[i]: first batch index of the run of equal statuses holding i
        self.run_start = []
        for i, s in enumerate(self.status):
            same = i > 0 and s is not None and s.same_def(self.status[i - 1])
            self.run_start.append(self.run_start[i - 1] if same else i)

    def definite(self, i, j):
        """The one definition batches i..j all saw, or None."""
        if self.status[j] is None or self.run_start[j] > i:
            return None
        return self.status[j]


def check_dynamic(chk, rule, tl, mdl, results, first_idx, fire_idx, wm_final):
    """Checks of one dynamic rule that hold whatever its pickup moment: a
    window whose micro-batches, from the first that read its events to the
    one that fired it, all saw one definition matches the model under that
    definition; any other result is a value a partial fold could produce;
    no result exists for a window without events or still open."""
    got = results.get(rule.id, {})
    acc = mdl.acc[rule.shape]
    for (gid, ws), a in acc.items():
        we = ws + rule.w
        if we > wm_final:
            continue
        i = first_idx(max(0, (ws - gen.T0) // gen.FILE_EVENT_MS))
        j = fire_idx(we)
        key = (f"{rule.id}_{gid}", ws)
        g = got.get(key)
        d = tl.definite(i, j) if i is not None and j is not None else None
        if d is None:
            if g is not None:
                model.check_weak(chk, rule, a, g[0])
        elif d.state == "ACTIVE":
            r = d.value(a)
            chk.checked += 1
            if d.passes(r):
                if g is None:
                    chk.fail(f"rule {rule.id}: missing {key} = {r} under its definition")
                elif not model.close(g[0], r):
                    chk.fail(f"rule {rule.id}: {key} = {g[0]}, expected {r}")
            elif g is not None:
                chk.fail(f"rule {rule.id}: {key} = {g[0]} fails {d.cmp} {d.limit}")
        elif g is not None:
            chk.fail(f"rule {rule.id}: result {key} while the rule was {d.state}")
    for (group_id, ws), g in got.items():
        if (group_id.split("_", 1)[1], ws) not in acc:
            chk.fail(f"rule {rule.id}: result {(group_id, ws)} for a window without events")
        elif ws + rule.w > wm_final:
            chk.fail(f"rule {rule.id}: result {(group_id, ws)} for a window still open")


def check_stable(chk, rules, mdl, results, dups, wm_final):
    """Rules that never change: exact results for every closed window."""
    for d in dups[:5]:
        chk.fail(f"duplicate result {d}")
    if dups:
        chk.fail(f"{len(dups)} duplicate results")
    for r in rules:
        model.check_exact(chk, r, mdl.acc[r.shape], results, closed_by=wm_final)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=CORES,
                    help="local[N] executor threads (the README's single-core drain uses 1)")
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        sys.exit("[perfbench] run from the repository root: the program's sources are missing")
    cp = build(root)
    t_start = time.time()

    work = os.path.join(root, BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    g = gen.Gen(args.workload, args.seed, args.seconds, work).build()
    log(f"[perfbench] inputs written in {time.time() - t_start:.1f}s")

    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.StreamRun", work, str(args.trace), str(args.cores)]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    t_jvm = time.time()
    jvm_log = os.path.join(work, "jvm.log")
    # A SIGTERM ends this script through SystemExit, so the JVM is stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[perfbench] terminated"))
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            sys.exit("[perfbench] the stream run did not finish in time")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        log(open(jvm_log).read()[-6000:])
        sys.exit(f"[perfbench] the stream run failed with code {p.returncode}")
    log(f"[perfbench] stream run took {time.time() - t_jvm:.1f}s")
    report = evaluate(args, work, g)
    log(f"[perfbench] total {time.time() - t_start:.1f}s")
    print(json.dumps(report))


def evaluate(args, work, g):
    out = os.path.join(work, "out")
    runinfo = json.load(open(os.path.join(out, "run.json")))
    mb = batches_of(read_jsonl(os.path.join(out, "progress_metric.jsonl")))
    cb = batches_of(read_jsonl(os.path.join(out, "progress_control.jsonl")))
    gen_log = []
    with open(os.path.join(out, "gen.tsv")) as f:
        for line in f:
            ph, kind, name, n, due, act = line.rstrip("\n").split("\t")
            gen_log.append({"phase": ph, "kind": kind, "name": name, "lines": int(n),
                            "due": float(due), "act": float(act)})
    mfiles = [x for x in gen_log if x["kind"] == "m"]
    rfiles = [x for x in gen_log if x["kind"] == "r"]
    fbatch = assign_files(mb, mfiles)
    rbatch = assign_files(cb, rfiles)
    bidx = {b.id: i for i, b in enumerate(mb)}
    by_id = {b.id: b for b in mb}
    knum = {f["name"]: f["k"] for f in g["files"]}
    by_k = {knum[x["name"]]: x for x in mfiles}
    round_dir = os.path.dirname(runinfo["sink_dir"].rstrip("/"))
    round_dir = os.path.dirname(round_dir)

    chk = model.Checker()
    base = [model.Rule(r) for r in g["base"]]
    ops = {}        # rule id -> [(control batch, rule, rename record)] in rename order
    for x in rfiles:
        with open(os.path.join(round_dir, "rules", x["name"])) as f:
            d = json.loads(f.readline())
        ops.setdefault(d["ruleId"], []).append((rbatch[x["name"]], model.Rule(d), x))
    stable = [r for r in base if r.id not in ops]
    dynamic = [r for r in base if r.id in ops] + [ops[p][0][1] for p in g["probes"]]
    mdl = model.Model(base + dynamic, keep_values={r.shape for r in dynamic})
    metric_dir = os.path.join(round_dir, "metrics")
    seq_file = {}
    total_lines = 0
    for f in g["files"]:
        with open(os.path.join(metric_dir, f["name"])) as fh:
            lines = fh.read().splitlines()
        total_lines += len(lines)
        mdl.add_file(f["k"], lines, gen.T0 + 60000 if f["phase"] != "warm" else None,
                     seq_file=seq_file, name=f["name"])

    # Rejects: generator, model and program agree.
    if mdl.dropped != g["n_bad"]:
        chk.fail(f"model drops {mdl.dropped} lines, generator wrote {g['n_bad']} bad lines")
    if runinfo["parse_kept"] != total_lines - g["n_bad"]:
        chk.fail(f"program kept {runinfo['parse_kept']} of {total_lines} lines, "
                 f"expected {total_lines - g['n_bad']}")
    # Late drops: each late event, once per rule it matches.
    dropped = sum((b.state or {}).get("numRowsDroppedByWatermark", 0) for b in mb)
    late_rows = sum(mdl.late_events(r.shape) for r in stable)
    if mdl.late != g["n_late"]:
        chk.fail(f"model sees {mdl.late} late events, generator wrote {g['n_late']}")
    if any(mdl.late_events(r.shape) for r in dynamic) or dropped != late_rows:
        chk.fail(f"engine dropped {dropped} late rows, expected {late_rows}")

    results, dups = sink_results(runinfo["sink_dir"], by_id)
    wm_final = mb[-1].wm
    if not min(mdl.max_t[r.shape] for r in stable) <= wm_final <= max(mdl.max_t.values()):
        chk.fail(f"final watermark {wm_final} outside the event range")
    check_stable(chk, stable, mdl, results, dups, wm_final)
    wms = [b.wm for b in mb]

    def first_idx(k):
        x = by_k.get(k)
        return None if x is None else bidx[fbatch[x["name"]].id]

    def fire_idx(we):
        return next((i for i, w in enumerate(wms) if w >= we), None)

    shared = 0
    for rid, rops in ops.items():
        rule = rops[0][1]
        initial = next((r for r in base if r.id == rid), None)
        if initial is None:     # a probe is absent until its first line
            initial = copy.copy(rule)
            initial.state = "DELETE"
        tl = Timeline(initial, [(c, d) for c, d, _ in rops], mb)
        shared += tl.shared
        check_dynamic(chk, rule, tl, mdl, results, first_idx, fire_idx, wm_final)

    # Batch replay: every window, late events included, the base rules.
    rres, rdups = replay_results(os.path.join(out, "replay"))
    if rdups:
        chk.fail(f"replay: {len(rdups)} duplicate results, e.g. {rdups[0]}")
    for r in base:
        model.check_exact(chk, r, mdl.with_late(r.shape), rres, what="replay")

    # ---- end-to-end metrics ----
    due_of = {knum[x["name"]]: x["due"] for x in mfiles}
    phase_of = {knum[x["name"]]: x["phase"] for x in mfiles}
    lat = {"lo": [], "hi": []}
    emitters = {"lo": set(), "hi": set()}
    for r in stable:
        last = mdl.last_file[r.shape]
        for (_, ws), (_, b, _) in results.get(r.id, {}).items():
            k = last.get(ws)
            if phase_of.get(k) in lat:
                lat[phase_of[k]].append(b.end - due_of[k])
                emitters[phase_of[k]].add(b.id)
    pickups, failed = [], 0
    for pid in g["probes"]:
        got = results.get(pid, {})
        if not got:
            failed += 1
            continue
        c_add, _, x_add = ops[pid][0]
        b = fbatch.get(seq_file.get(int(min(v for v, _, _ in got.values()))))
        if b is None or b.end < c_add.start:
            chk.fail(f"probe {pid}: first match read before its rule was published")
            continue
        pickups.append(b.end - x_add["due"])
    drain = [x for x in mfiles if x["phase"] == "drain"]
    drain_start = min(x["act"] for x in drain)
    drain_end = max(fbatch[x["name"]].end for x in drain)
    before_drain = [b for b in mb if b.end <= drain_start and b.state]
    e2e = {
        "setup_s": statistics.median(runinfo["setup_ms"]) / 1000.0,
        "drain_eps": sum(x["lines"] for x in drain) / ((drain_end - drain_start) / 1000.0),
        "lat_lo_p50_ms": layers.pct(lat["lo"], 0.5),
        "lat_hi_p50_ms": layers.pct(lat["hi"], 0.5),
        "rule_pickup_p50_ms": layers.pct(pickups, 0.5),
        "state_rows": before_drain[-1].state["numRowsTotal"],
        "replay_eps": total_lines / ((runinfo["replay_plan_ms"] + runinfo["replay_exec_ms"]) / 1000.0),
    }
    timed_names = {x["name"] for x in mfiles if x["phase"] in ("lo", "hi")}
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "calib_ratio": runinfo["calib_ratio"], "e2e": e2e,
            "lat_hi_p90_ms": layers.pct(lat["hi"], 0.9), "lat_samples": {k: len(v) for k, v in lat.items()},
            "emit_batches": {k: len(v) for k, v in emitters.items()}, "pickups": len(pickups),
            "shared_control_batches": shared,
            "late_rows_dropped": dropped, "setup_ms": runinfo["setup_ms"],
            "checked": chk.checked, "errors": chk.errors}
    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if args.trace:
        per = layers.per_layer(out, mb, cb, mfiles, rfiles, timed_names)
        diag["per_layer"] = per
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per.items()}
    print(json.dumps(diag))
    return {"correct": chk.ok, "attempted": chk.checked + len(g["probes"]), "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    main()
