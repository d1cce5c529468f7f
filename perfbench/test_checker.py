"""The checker must reject wrong result sets.

    python3 perfbench/test_checker.py

Builds a small stream with the workload generator, writes the model's own
expected results as a file-sink directory, and checks that the checker
accepts it as is and rejects it with one window missing, one value off by
1e-6, or one result duplicated. For a rule that changes during the run, it
checks that two lines of the rule read by one control micro-batch count in
arrival order: the rule's results after that batch must follow the later
line.
"""

import copy
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen      # noqa: E402
import model    # noqa: E402
import run      # noqa: E402


class FakeBatch:
    id = 0


class Span:
    """A micro-batch's wall-clock extent."""

    def __init__(self, start, end):
        self.start, self.end = start, end


class CheckerTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        g = gen.Gen("paper_8rules", 7, 2, os.path.join(cls.tmp, "in")).build()
        cls.rules = [model.Rule(r) for r in g["base"]]
        cls.mdl = model.Model(cls.rules)
        for f in g["files"][:40]:
            with open(os.path.join(cls.tmp, "in", "staged", f["name"])) as fh:
                cls.mdl.add_file(f["k"], fh.read().splitlines())
        cls.wm = max(cls.mdl.max_t.values())
        cls.rows = []
        for r in cls.rules:
            for (gid, ws), v in model.expected_results(r, cls.mdl.acc[r.shape], cls.wm).items():
                cls.rows.append({"rule_id": r.id, "group_id": gid, "window_start": ws,
                                 "window_end": ws + r.w, "result": v})

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def verdict(self, rows):
        sink = tempfile.mkdtemp(dir=self.tmp)
        part = os.path.join(sink, "part-00000.json")
        with open(part, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        os.makedirs(os.path.join(sink, "_spark_metadata"))
        with open(os.path.join(sink, "_spark_metadata", "0"), "w") as f:
            f.write("v1\n" + json.dumps({"path": "file://" + part}) + "\n")
        results, dups = run.sink_results(sink, {0: FakeBatch()})
        chk = model.Checker()
        run.check_stable(chk, self.rules, self.mdl, results, dups, self.wm)
        return chk

    def test_exact_results_pass(self):
        chk = self.verdict(self.rows)
        self.assertTrue(chk.ok, chk.errors)
        self.assertGreater(chk.checked, 1000)

    def test_missing_window_fails(self):
        self.assertFalse(self.verdict(self.rows[1:]).ok)

    def test_value_off_by_1e6_fails(self):
        rows = [dict(r) for r in self.rows]
        rows[len(rows) // 2]["result"] += 1e-6
        self.assertFalse(self.verdict(rows).ok)

    def test_duplicate_fails(self):
        self.assertFalse(self.verdict(self.rows + [self.rows[3]]).ok)

    def dynamic_verdict(self, lines, with_results):
        """Rule 1 starts ACTIVE; one control batch reads `lines` (in rename
        order); every window's events are read and fired by metric batches
        that start after that control batch."""
        rule = self.rules[0]
        control = Span(100, 200)
        metric = [Span(0, 50), Span(300, 400), Span(500, 600)]
        tl = run.Timeline(rule, [(control, d) for d in lines], metric)
        got = {}
        if with_results:
            for key, v in model.expected_results(rule, self.mdl.acc[rule.shape], self.wm).items():
                got[key] = (v, None, key[1] + rule.w)
        chk = model.Checker()
        run.check_dynamic(chk, rule, tl, self.mdl, {rule.id: got} if got else {},
                          lambda k: 1, lambda we: 2, self.wm)
        return chk, tl

    def changed(self, state):
        d = copy.copy(self.rules[0])
        d.state = state
        return d

    def test_readd_after_pause_in_one_control_batch(self):
        lines = [self.changed("PAUSE"), self.changed("ACTIVE")]
        chk, tl = self.dynamic_verdict(lines, with_results=True)
        self.assertTrue(chk.ok, chk.errors)
        self.assertEqual(tl.shared, 1)
        # The engine applying the PAUSE last (no results) must fail.
        self.assertFalse(self.dynamic_verdict(lines, with_results=False)[0].ok)

    def test_pause_after_readd_in_one_control_batch(self):
        lines = [self.changed("ACTIVE"), self.changed("PAUSE")]
        self.assertTrue(self.dynamic_verdict(lines, with_results=False)[0].ok)
        self.assertFalse(self.dynamic_verdict(lines, with_results=True)[0].ok)


if __name__ == "__main__":
    unittest.main()
