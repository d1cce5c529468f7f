"""The expected results, computed without the program, and the checker.

The model re-parses every generated line with the reference's parse
rules and folds the surviving events into epoch-aligned windows:

- a key containing ``t_`` is a tag, ``eventTime`` is the epoch-ms time,
  every other key is a measure that must be an integer;
- a line with bad JSON, a missing or non-integer ``eventTime``, or a
  non-integer measure is dropped;
- SUM and AVG add the measures exactly (they are integers, so rounding
  to 6 decimals changes nothing), AVG divides once at the end;
- a window [ws, ws + w) holds events with ws <= t < ws + w; sliding
  windows start on multiples of the slide.
"""

import json
import math
import operator
import re

INT_RE = re.compile(r"^[+-]?[0-9]+$")
CMP = {"GREATER": ">", "LESS": "<", "GREATER_EQUAL": ">=", "LESS_EQUAL": "<=",
       "EQUAL": "=", "NOT_EQUAL": "!="}
CMP_FN = {">": operator.gt, "<": operator.lt, ">=": operator.ge, "<=": operator.le,
          "=": operator.eq, "!=": operator.ne}


def as_int(v):
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, str) and INT_RE.match(v):
        return int(v)
    return None


def parse_line(line):
    """(eventTime, tags, measures) or None when the line is dropped."""
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    if not isinstance(obj, dict):
        return None
    t, tags, meas = None, {}, {}
    for k, v in obj.items():
        if "t_" in k:
            tags[k] = v if isinstance(v, str) else json.dumps(v)
        elif k == "eventTime":
            t = as_int(v)
        else:
            iv = as_int(v)
            if iv is None:
                return None
            meas[k] = iv
    return None if t is None else (t, tags, meas)


class Rule:
    def __init__(self, d):
        self.id = d["ruleId"]
        self.state = d["ruleState"]
        self.wtype = d["windowType"].lower()
        self.w = d["windowMinutes"] * 60000
        self.s = d["windowSlideMinute"] * 60000
        self.keys = tuple(d["groupingKeyNames"])
        self.agg = d["aggregatorFunctionType"]
        self.field = d["aggregateFieldName"]
        self.cmp = CMP[d["limitOperatorType"]]
        self.limit = float(d["limit"])
        self.shape = (self.keys, self.field, self.wtype, self.w, self.s)

    def same_def(self, other):
        return (other is not None and self.state == other.state
                and self.limit == other.limit and self.cmp == other.cmp)

    def value(self, acc):
        if self.agg == "SUM":
            return float(acc[0])
        if self.agg == "AVG":
            return float(acc[0]) / acc[1]
        return float(acc[2] if self.agg == "MIN" else acc[3])

    def passes(self, r):
        return CMP_FN[self.cmp](r, self.limit)


def starts(shape, t):
    _, _, wtype, w, s = shape
    if wtype == "tumbling":
        return (t // w * w,)
    top = t // s * s
    n = -(-w // s)
    return tuple(x for x in (top - i * s for i in range(n)) if x > t - w)


class Model:
    """Per-window aggregates of every rule shape over a line stream."""

    def __init__(self, rules, keep_values=()):
        self.keep_values = set(keep_values)
        self.shapes = sorted({r.shape for r in rules})
        self.by_key = {}
        for sh in self.shapes:
            self.by_key.setdefault(sh[0][0] if sh[0] else None, []).append(sh)
        self.acc = {sh: {} for sh in self.shapes}        # (gid, ws) -> [sum, cnt, min, max, vals]
        self.last_file = {sh: {} for sh in self.shapes}  # ws -> max file index
        self.dropped = 0
        self.max_t = {}                                  # shape -> max event time
        self.late_acc = {sh: {} for sh in self.shapes}
        self.late_count = {}
        self.late = 0

    def add_file(self, k, lines, late_before=None, seq_file=None, name=None):
        """Fold file number `k`. Events older than `late_before` go to the
        late-only aggregates (the streaming engine drops them). When
        `seq_file` is given, it maps each event's `seq` measure to `name`."""
        for line in lines:
            ev = parse_line(line)
            if ev is None:
                self.dropped += 1
                continue
            t, tags, meas = ev
            if seq_file is not None and "seq" in meas:
                seq_file[meas["seq"]] = name
            late = late_before is not None and t < late_before
            self.late += late
            for key in list(tags) + [None]:
                for sh in self.by_key.get(key, ()):
                    keys, field = sh[0], sh[1]
                    if field not in meas or any(kk not in tags for kk in keys):
                        continue
                    v = meas[field]
                    gid = "_".join(tags[kk] for kk in keys)
                    acc = self.late_acc[sh] if late else self.acc[sh]
                    keep = sh in self.keep_values
                    if late:
                        self.late_count[sh] = self.late_count.get(sh, 0) + 1
                    elif t > self.max_t.get(sh, -1):
                        self.max_t[sh] = t
                    for ws in starts(sh, t):
                        a = acc.get((gid, ws))
                        if a is None:
                            acc[(gid, ws)] = [v, 1, v, v, [v] if keep else None]
                        else:
                            a[0] += v
                            a[1] += 1
                            if v < a[2]:
                                a[2] = v
                            if v > a[3]:
                                a[3] = v
                            if keep:
                                a[4].append(v)
                        if not late:
                            lf = self.last_file[sh]
                            if lf.get(ws, -1) < k:
                                lf[ws] = k

    def late_events(self, sh):
        """Late events the shape's rules match."""
        return self.late_count.get(sh, 0)

    def with_late(self, sh):
        """Aggregates of a shape with the late events folded back in."""
        merged = dict(self.acc[sh])
        for key, la in self.late_acc[sh].items():
            a = merged.get(key)
            if a is None:
                merged[key] = la
            else:
                merged[key] = [a[0] + la[0], a[1] + la[1], min(a[2], la[2]),
                               max(a[3], la[3]), None]
        return merged


def close(a, b):
    return a == b or abs(a - b) <= math.ulp(b)


class Checker:
    """Collects failures as readable strings; `ok` when there are none."""

    def __init__(self):
        self.errors = []
        self.checked = 0

    def fail(self, msg):
        if len(self.errors) < 20:
            self.errors.append(msg)
        else:
            self.errors[-1] = f"... and more ({msg})"

    @property
    def ok(self):
        return not self.errors


def expected_results(rule, acc, closed_by=None):
    """(group_id, ws) -> result of every window of `rule` in `acc` that
    passes the threshold (and is closed by watermark `closed_by`, if given)."""
    out = {}
    for (gid, ws), a in acc.items():
        if closed_by is not None and ws + rule.w > closed_by:
            continue
        r = rule.value(a)
        if rule.passes(r):
            out[(f"{rule.id}_{gid}", ws)] = r
    return out


def check_exact(chk, rule, acc, results, closed_by=None, what="stream"):
    """Every expected window appears once with its exact value (AVG to the
    last ulp); nothing else appears."""
    expected = expected_results(rule, acc, closed_by)
    got = results.get(rule.id, {})
    chk.checked += len(expected)
    for key, r in expected.items():
        g = got.get(key)
        if g is None:
            chk.fail(f"{what} rule {rule.id}: missing result {key} = {r}")
        elif not close(g[0], r):
            chk.fail(f"{what} rule {rule.id}: {key} = {g[0]}, expected {r}")
    for key in got:
        if key not in expected:
            chk.fail(f"{what} rule {rule.id}: unexpected result {key} = {got[key][0]}")


def check_weak(chk, rule, a, value):
    """A value any partial fold of window aggregate `a` could produce."""
    s, n, mn, mx, vals = a
    if rule.agg in ("MIN", "MAX"):
        ok = value in vals
    elif rule.agg == "AVG":
        ok = mn <= value <= mx
    else:   # measures are never negative, so a partial sum lies in [0, s]
        ok = 0 <= value <= s
    if not ok:
        chk.fail(f"rule {rule.id}: value {value} impossible for window {a[:4]}")
