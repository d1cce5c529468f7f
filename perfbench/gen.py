"""Workloads and the seeded input generator.

Every input the program sees is written here, before timing starts:
JSON-line metric files, one-line rule files, the base rule book and the
rename schedule (`plan.tsv`) that the stream run's generator thread follows.

Event time is compressed: one event-minute lasts MINUTE_WALL_MS of wall
time, so the 1-minute slide closes a window several times per second.
Each metric file covers FILE_EVENT_MS of event time and is due
FILE_WALL_MS after the previous one, so a file never spans a slide
boundary. Lines are shuffled only within their file. Late events are
stamped in the stream's first event-minute: the warm-up is longer than
the longest window by LATE_MARGIN_MIN minutes and is fully processed
before the timed phases start, so every late event lies more than a
longest window behind the watermark whatever the micro-batch split.
"""

import json
import os
import random

MINUTE_WALL_MS = 250          # wall ms per event-minute
FILES_PER_MINUTE = 2
FILE_WALL_MS = MINUTE_WALL_MS // FILES_PER_MINUTE
FILE_EVENT_MS = 60000 // FILES_PER_MINUTE
T0 = 1_700_000_400_000        # a multiple of every window length used
LATE_MARGIN_MIN = 6
BAD_SHARE = 0.01
LATE_SHARE = 0.005
PROBE_EVENTS_PER_FILE = 3
PROBE_EVERY_MS = 500          # default; a workload may set probe_every_ms
PROBE_LIFE_MS = 5000
PROBE_ID0 = 900000
CHURN_GAP_MS = PROBE_LIFE_MS  # least time between two lines of one churned rule
DRAIN_FILES = 24

AGGS = ["SUM", "AVG", "MIN", "MAX"]
CMP_WORD = {">": "GREATER", "<": "LESS", ">=": "GREATER_EQUAL",
            "<=": "LESS_EQUAL", "=": "EQUAL", "!=": "NOT_EQUAL"}


def rule(rid, wtype, wmin, smin, keys, agg, field, cmp, limit, state="ACTIVE"):
    return {"ruleId": rid, "ruleState": state, "windowType": wtype,
            "windowMinutes": wmin, "windowSlideMinute": smin,
            "groupingKeyNames": keys, "aggregatorFunctionType": agg,
            "aggregateFieldName": field, "limitOperatorType": CMP_WORD[cmp],
            "limit": limit}


# Thresholds are set so that each comparator both keeps and drops results.
def paper_rules():
    limits = {"SUM": (">", 700), "AVG": (">=", 45), "MIN": ("<", 8), "MAX": ("<=", 95)}
    out = []
    for i, agg in enumerate(AGGS):
        cmp, lim = limits[agg]
        out.append(rule(1 + 2 * i, "tumbling", 2, 0, ["t_group"], agg, "cpu_usage", cmp, lim))
        out.append(rule(2 + 2 * i, "sliding", 2, 1, ["t_group"], agg, "cpu_usage", cmp, lim))
    return out


def wide_rules():
    limits = {"SUM": (">", 150), "AVG": (">", 90), "MIN": ("<", 5), "MAX": (">=", 97)}
    return [rule(1 + i, "sliding", 10, 1, ["t_host", "t_dc"], agg, "cpu_usage", *limits[agg])
            for i, agg in enumerate(AGGS)]


BIG_NAMES = 64
BIG_CHURN_NAMES = 8     # rules keyed on t_k0..t_k7 are the ones that churn


def big_rules():
    # The StreamBench big-book shape: half keyed on one of 64 tag names,
    # half on (that name, t_group); every event carries exactly one name.
    limits = {"SUM": (">", 150), "AVG": (">", 50), "MIN": ("<", 30), "MAX": (">", 70)}
    out = []
    for i in range(1, 1025):
        k = f"t_k{i % BIG_NAMES}"
        agg = AGGS[i % 4]
        if i % 2 == 0:
            out.append(rule(10000 + i, "sliding", 2, 1, [k], agg, "cpu_usage", *limits[agg]))
        else:
            out.append(rule(10000 + i, "tumbling", 2, 0, [k, "t_group"], agg, "cpu_usage", *limits[agg]))
    return out


# Rates are lines per wall second; drain is the backlog's line count.
# big_book_churn's micro-batches last about 1.5 s, so it takes twice the
# probes for a steady pickup median; beside its 1024-rule book they add
# little to the per-event fan-out.
WORKLOADS = {
    "paper_8rules": dict(rules=paper_rules, lo_rate=2000, hi_rate=5000, drain_lines=30000,
                         longest_min=2),
    "wide_state": dict(rules=wide_rules, lo_rate=1000, hi_rate=2000, drain_lines=20000,
                       longest_min=10),
    "big_book_churn": dict(rules=big_rules, lo_rate=500, hi_rate=1000, drain_lines=12000,
                           probe_every_ms=250,
                           longest_min=2, churn_every_ms=250),
}


def tags_for(name, rng, minute, late):
    if name == "paper_8rules":
        return {"t_group": f"g{rng.randrange(64)}"}
    if name == "wide_state":
        # Hosts drift by 2000 every event-minute: keys churn every window.
        return {"t_host": f"h{minute * 2000 + rng.randrange(8000)}", "t_dc": f"d{rng.randrange(4)}"}
    lo = BIG_CHURN_NAMES if late else 0
    return {"t_group": f"g{rng.randrange(64)}", f"t_k{rng.randrange(lo, BIG_NAMES)}": f"v{rng.randrange(16)}"}


class Gen:
    def __init__(self, name, seed, seconds, out_dir):
        self.name = name
        self.w = WORKLOADS[name]
        self.rng = random.Random(f"{name}:{seed}")
        self.seconds = seconds
        self.staged = os.path.join(out_dir, "staged")
        os.makedirs(self.staged, exist_ok=True)
        self.out_dir = out_dir
        self.seq = 0
        self.bad_kind = 0
        self.plan = []          # (phase, kind, due_ms, name, lines)
        self.files = []         # metric files in rename order: dict
        self.n_bad = 0
        self.n_late = 0

    def metric_file(self, phase, k, n, due_ms):
        rng = self.rng
        lo = T0 + k * FILE_EVENT_MS
        minute = k // FILES_PER_MINUTE
        times = sorted(rng.randrange(lo, lo + FILE_EVENT_MS) for _ in range(n))
        probes = set(rng.sample(range(n), min(PROBE_EVENTS_PER_FILE, n)))
        lines = []
        for i, t in enumerate(times):
            self.seq += 1
            ev = {"eventTime": t}
            ev.update(tags_for(self.name, rng, minute, False))
            if i in probes:
                ev["t_probe"] = "p"
            ev["cpu_usage"] = rng.randrange(100)
            ev["seq"] = self.seq
            lines.append(json.dumps(ev, separators=(",", ":")))
        if phase != "warm":
            for _ in range(max(1, round(n * LATE_SHARE))):
                self.seq += 1
                t = T0 + rng.randrange(60000)
                ev = {"eventTime": t}
                ev.update(tags_for(self.name, rng, 0, True))
                ev["cpu_usage"] = rng.randrange(100)
                ev["seq"] = self.seq
                lines.append(json.dumps(ev, separators=(",", ":")))
                self.n_late += 1
        for _ in range(max(1, round(n * BAD_SHARE))):
            t = rng.randrange(lo, lo + FILE_EVENT_MS)
            tags = tags_for(self.name, rng, minute, False)
            kind = self.bad_kind % 3
            self.bad_kind += 1
            if kind == 0:      # bad JSON
                line = json.dumps({"eventTime": t, **tags, "cpu_usage": 1})[:-7]
            elif kind == 1:    # missing eventTime
                line = json.dumps({**tags, "cpu_usage": rng.randrange(100)})
            else:              # non-integer measure
                line = json.dumps({"eventTime": t, **tags, "cpu_usage": "5.5"})
            lines.append(line)
            self.n_bad += 1
        rng.shuffle(lines)
        fname = f"m{k:06d}.json"
        with open(os.path.join(self.staged, fname), "w") as f:
            f.write("\n".join(lines) + "\n")
        self.plan.append((phase, "m", due_ms, fname, len(lines)))
        self.files.append({"k": k, "phase": phase, "name": fname, "lines": len(lines)})

    def rule_file(self, phase, due_ms, r):
        fname = f"r{len([p for p in self.plan if p[1] == 'r']):06d}.json"
        with open(os.path.join(self.staged, fname), "w") as f:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")
        self.plan.append((phase, "r", due_ms, fname, 1))

    def build(self):
        w = self.w
        rng = self.rng
        base = w["rules"]()
        with open(os.path.join(self.out_dir, "base_rules.jsonl"), "w") as f:
            for r in base:
                f.write(json.dumps(r, separators=(",", ":")) + "\n")
        k = 0
        warm_files = (w["longest_min"] + LATE_MARGIN_MIN) * FILES_PER_MINUTE
        per_lo = w["lo_rate"] * FILE_WALL_MS // 1000
        per_hi = w["hi_rate"] * FILE_WALL_MS // 1000
        for j in range(warm_files):
            self.metric_file("warm", k, per_lo, j * FILE_WALL_MS)
            k += 1
        # Two probes added in the warm-up warm the rule-control path; they
        # are deleted as the timed phases start, never in the control
        # micro-batch that added them, and are not measured.
        warm_probes = []
        for i, t in enumerate((FILE_WALL_MS * 2, FILE_WALL_MS * 10)):
            p = rule(PROBE_ID0 - 1 - i, "tumbling", 1, 0, ["t_probe"], "MIN", "seq", ">", -1)
            self.rule_file("warm", t, p)
            warm_probes.append(p)
        for i, p in enumerate(warm_probes):
            self.rule_file("lo", i * FILE_WALL_MS, {**p, "ruleState": "DELETE"})
        half = self.seconds * 1000 // 2
        n_half = half // FILE_WALL_MS
        for j in range(n_half):
            self.metric_file("lo", k, per_lo, j * FILE_WALL_MS)
            k += 1
        for j in range(n_half):
            self.metric_file("hi", k, per_hi, (n_half + j) * FILE_WALL_MS)
            k += 1
        end_ms = 2 * n_half * FILE_WALL_MS
        # Probe rules: added every probe_every_ms, deleted PROBE_LIFE_MS later.
        every = w.get("probe_every_ms", PROBE_EVERY_MS)
        probes = []
        t = every // 2
        while t + PROBE_LIFE_MS < end_ms:
            pid = PROBE_ID0 + len(probes)
            p = rule(pid, "tumbling", 1, 0, ["t_probe"], "MIN", "seq", ">", -1)
            phase = "lo" if t < half else "hi"
            self.rule_file(phase, t, p)
            self.rule_file(phase, t + PROBE_LIFE_MS, {**p, "ruleState": "DELETE"})
            probes.append(pid)
            t += every
        # Churn of base rules: threshold change, PAUSE, DELETE, re-ADD.
        # Two lines of one rule are CHURN_GAP_MS apart or more, as a
        # probe's two lines are, so that no control micro-batch reads both
        # (how the engine orders such lines depends on the batch split;
        # see CHANGES.md).
        if "churn_every_ms" in w:
            churn = [r for r in base if int(r["groupingKeyNames"][0][3:]) < BIG_CHURN_NAMES]
            state = {r["ruleId"]: dict(r) for r in churn}
            last = {}
            t = w["churn_every_ms"] // 2
            while t < end_ms:
                ready = [r for r in churn if t - last.get(r["ruleId"], -CHURN_GAP_MS) >= CHURN_GAP_MS]
                cur = state[rng.choice(ready)["ruleId"]]
                last[cur["ruleId"]] = t
                if cur["ruleState"] != "ACTIVE":
                    nxt = {**cur, "ruleState": "ACTIVE"}
                else:
                    op = rng.randrange(3)
                    if op == 0:
                        nxt = {**cur, "limit": cur["limit"] + rng.choice([-20, -10, 10, 20])}
                    else:
                        nxt = {**cur, "ruleState": "PAUSE" if op == 1 else "DELETE"}
                state[cur["ruleId"]] = nxt
                self.rule_file("lo" if t < half else "hi", t, nxt)
                t += w["churn_every_ms"]
        per_drain = w["drain_lines"] // DRAIN_FILES
        for _ in range(DRAIN_FILES):
            self.metric_file("drain", k, per_drain, 0)
            k += 1
        with open(os.path.join(self.out_dir, "plan.tsv"), "w") as f:
            for p in self.plan:
                f.write("\t".join(str(x) for x in p) + "\n")
        return {"base": base, "probes": probes, "files": self.files,
                "n_bad": self.n_bad, "n_late": self.n_late, "end_ms": end_ms, "half_ms": half}
