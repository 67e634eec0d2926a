"""Self-tests of the benchmark's own code.

Run from the repository root: python3 -m unittest discover perfbench
The span test compiles the harness on first use (needs SPARK_HOME).
"""

import filecmp
import json
import os
import shutil
import subprocess
import tempfile
import unittest

import run
import steady
import synth
import traces


def _matches(d):
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name)) as f:
            yield name, json.load(f)


class SynthTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def corpus(self, seed, name, n=120):
        d = os.path.join(self.tmp, name)
        rows = synth.write_corpus(seed, n, os.path.join(d, "m"), 1000, "2020-01-01",
                                  30, zip_path=os.path.join(d, "c.zip"))
        return d, rows

    def test_same_seed_gives_identical_files(self):
        a, rows_a = self.corpus(5, "a")
        b, rows_b = self.corpus(5, "b")
        self.assertEqual(rows_a, rows_b)
        names = sorted(os.listdir(os.path.join(a, "m")))
        _, mismatch, errors = filecmp.cmpfiles(os.path.join(a, "m"),
                                               os.path.join(b, "m"), names,
                                               shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertTrue(filecmp.cmp(os.path.join(a, "c.zip"),
                                    os.path.join(b, "c.zip"), shallow=False))
        rng_a, rng_b = synth.random.Random(3), synth.random.Random(3)
        synth.write_documents(rng_a, os.path.join(a, "d.json"), 0, 50, [])
        synth.write_documents(rng_b, os.path.join(b, "d.json"), 0, 50, [])
        self.assertTrue(filecmp.cmp(os.path.join(a, "d.json"),
                                    os.path.join(b, "d.json"), shallow=False))

    def test_other_seed_gives_other_files(self):
        _, rows_a = self.corpus(5, "a")
        _, rows_b = self.corpus(6, "b")
        self.assertNotEqual(rows_a, rows_b)

    def test_corpus_covers_the_fixture_shapes(self):
        d, _ = self.corpus(1, "a", n=400)
        seen = set()
        for _, m in _matches(os.path.join(d, "m")):
            info, inns = m["info"], m.get("innings")
            seen.update(k for k in ("event", "city", "player_of_match")
                        if k not in info)
            out = info["outcome"]
            if "winner" in out and "by" not in out:
                seen.add("by")
            if out.get("result") == "no result":
                seen.add("no innings" if inns is None else "no result")
            if out.get("result") == "tie":
                seen.add("tie")
            if inns and len(inns) == 1:
                seen.add("single innings")
            if inns and any(i.get("super_over") for i in inns):
                seen.add("super over")
            for i in inns or []:
                for o in i["overs"]:
                    for dl in o["deliveries"]:
                        seen.update(dl.get("extras", {}))
                        if len(dl.get("wickets", [])) > 1:
                            seen.add("multi-wicket")
        self.assertEqual(seen, {
            "event", "city", "player_of_match", "by", "no result", "no innings",
            "tie", "single innings", "super over", "wides", "noballs", "legbyes",
            "byes", "penalty", "multi-wicket"})

    def test_truth_matches_the_json(self):
        d, rows = self.corpus(2, "a")
        truth = {r[0]: r for r in rows}
        for name, m in _matches(os.path.join(d, "m")):
            t = truth[name[:-5]]
            totals = {t[2]: 0, t[3]: 0}
            balls = 0
            for i in m.get("innings", []):
                for o in i["overs"]:
                    balls += len(o["deliveries"])
                    totals[i["team"]] += sum(dl["runs"]["total"] for dl in o["deliveries"])
            self.assertEqual((int(t[4]), int(t[5]), int(t[6])),
                             (totals[t[2]], totals[t[3]], balls))
        path = os.path.join(self.tmp, "truth.tsv")
        synth.write_truth(rows, path)
        self.assertEqual(len(synth.read_truth(path)), len(rows))


def span(i, name, start, end, parent, trace):
    return {"id": i, "name": name, "start_ns": start, "end_ns": end,
            "parent": parent, "trace": trace}


class ArithmeticTest(unittest.TestCase):
    def test_spread_is_interquartile_range_over_median(self):
        med, sp = steady.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(sp, (8.25 - 2.75) / 5.5)

    def test_median_of_nothing_is_zero(self):
        self.assertEqual(run.median([]), 0.0)
        self.assertEqual(run.median([3, 1, 2]), 2)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, "step", 0, 10_000_000_000, 0, 1),
                 span(2, "a", 1_000_000_000, 4_000_000_000, 1, 1),
                 span(3, "b", 4_000_000_000, 6_000_000_000, 1, 1),
                 span(4, "a.x", 1_000_000_000, 2_000_000_000, 2, 1)]
        st = traces.self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)   # 10 - |[1, 6]|
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[4], 1.0)
        self.assertEqual(traces.check_self_times(spans), [])
        self.assertAlmostEqual(traces.self_time_by_layer(spans)["a"], 2.0)
        by = traces.layer_time_by_trace(spans, "step")
        self.assertEqual(len(by), 1)
        self.assertAlmostEqual(by[0]["a"], 3.0)
        self.assertEqual(traces.layer_time_by_trace(spans, "setup"), [])

    def test_misnested_spans_are_reported(self):
        spans = [span(1, "step", 0, 10, 0, 1),
                 span(2, "late", 5, 12, 1, 1),
                 span(3, "setup", 0, 10, 0, 2),
                 span(4, "stray", 1, 2, 1, 2)]
        self.assertEqual(traces.check_self_times(spans), [
            "span 2 (late) ends outside its parent",
            "span 4 (stray) is outside its trace",
            "trace 1: self times exceed its wall time"])

    def test_overlapping_siblings_exceed_the_wall_and_are_reported(self):
        spans = [span(1, "step", 0, 10, 0, 1),
                 span(2, "a", 0, 8, 1, 1),
                 span(3, "b", 2, 10, 1, 1)]
        self.assertEqual(traces.check_self_times(spans),
                         ["trace 1: self times exceed its wall time"])


def fake_result():
    """A harness result with one traced and one untraced weekly step."""
    counters = {k: 1 for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ns",
                               "shuffle_read_bytes", "shuffle_write_bytes",
                               "spill_bytes", "result_bytes")}

    def op(kind, wall, plan_ms):
        return {"kind": kind, "wall_s": wall, "spark": dict(counters, plan_ms=plan_ms),
                "progress": {}}
    return {
        "session_s": 1.0, "boot_s": 2.0, "job_floor_ms": 10.0,
        "env": {"peak_rss_kb": 2048},
        "steps": [{"traced": True, "wall_s": 4.0,
                   "ops": [op("drip", 3.0, 30), op("queries", 1.0, 7)]},
                  {"traced": False, "wall_s": 3.5,
                   "ops": [op("drip", 2.6, 0), op("queries", 0.9, 0)]}],
        "spans": [span(1, "step", 0, 4_000_000_000, 0, 1),
                  span(2, "analyze.build", 0, 1_000_000_000, 1, 1),
                  span(3, "analyze.build", 1_000_000_000, 1_500_000_000, 1, 1)],
        "extras": {},
    }


class MetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_every_declared_metric_is_reported_with_its_unit(self):
        for got, declared in ((run.end_to_end(fake_result(), 0.5), "end_to_end"),
                              (run.per_layer(fake_result(), 4), "per_layer")):
            self.assertEqual({k: u for k, (_, u) in got.items()},
                             {m["name"]: m["unit"] for m in self.bench[declared]})

    def test_layers_sum_per_step_and_setup_adds_its_phases(self):
        m = run.per_layer(fake_result(), 4)
        self.assertAlmostEqual(m["analyze.build_s"][0], 1.5)
        self.assertEqual(m["analyze.plan_ms"][0], 7)
        self.assertEqual(m["spark.plan_ms"][0], 37)
        self.assertEqual(m["spark.jobs"][0], 2)
        self.assertAlmostEqual(m["trace.overhead_s"][0], 0.5)
        self.assertAlmostEqual(run.end_to_end(fake_result(), 0.5)["setup_s"][0], 3.5)

    def test_step_count_follows_the_budget_not_the_host(self):
        self.assertEqual(run.steps("weekly", 18), 4)
        self.assertEqual(run.steps("stream", 18), 3)
        self.assertEqual(run.steps("stream", 1), run.MIN_STEPS)
        self.assertEqual(run.steps("stream", 40), 6)


class HarnessSpanTest(unittest.TestCase):
    def test_spans_nest_under_their_trace(self):
        classes, _ = run.build(os.path.join(os.environ["SPARK_HOME"], "jars"))
        cp = classes + ":" + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp,
                              "perfbench.TraceSelfTest"],
                             capture_output=True, text=True, check=True).stdout
        spans = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(traces.check_self_times(spans), [])
        by_name = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)
        inner, outer = by_name["inner"][0], by_name["outer"][0]
        self.assertEqual(inner["parent"], outer["id"])
        self.assertEqual({s["trace"] for s in spans}, {1, 2})
        roots = [s for s in spans if s["parent"] == 0]
        self.assertEqual([r["name"] for r in roots], ["step", "step"])
        self.assertEqual(by_name["outer"][1]["trace"], 2)


if __name__ == "__main__":
    unittest.main()
