"""The benchmark's own tests: generator determinism, quirks, ground truth,
and the shape of BENCHMARK.json. Run with

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import unittest
from decimal import Decimal

import gen_superstore as gen

HERE = os.path.dirname(os.path.abspath(__file__))
ORDERS = 300


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.a = gen.generate(5, ORDERS)
        cls.b = gen.generate(5, ORDERS)

    def test_same_seed_gives_byte_identical_extracts(self):
        self.assertEqual(self.a[0], self.b[0])
        self.assertEqual(self.a[1], self.b[1])
        self.assertEqual(self.a[3], self.b[3])

    def test_same_seed_gives_identical_ground_truth(self):
        self.assertEqual(self.a[2].etl(*self.a[3]), self.b[2].etl(*self.b[3]))
        for q in gen.slicer_stream(5, 40):
            oa, ra = self.a[2].answer(*q)
            ob, rb = self.b[2].answer(*q)
            self.assertEqual(gen.digest(ra, oa), gen.digest(rb, ob))

    def test_same_seed_gives_identical_stream(self):
        self.assertEqual(gen.slicer_stream(5, 500), gen.slicer_stream(5, 500))

    def test_other_seed_gives_other_extract(self):
        self.assertNotEqual(self.a[0], gen.generate(6, ORDERS)[0])

    def test_extract_has_every_documented_quirk(self):
        raw = self.a[0]
        lines = raw.split(b"\r\n")[:-1]
        self.assertTrue(all(ln.endswith(b";") for ln in lines))     # trailing ;
        self.assertEqual(raw.count(b"\r\n"), len(lines))               # CRLF
        body = lines[1:]
        wrapped = [ln for ln in body if ln.startswith(b'"')]
        self.assertGreater(len(wrapped), len(body) // 10)              # wrapped rows
        self.assertTrue(any(b'""' in ln for ln in wrapped))            # doubled quotes
        self.assertTrue(any(re.search(rb',"[^"]*, [^"]*",', ln) for ln in body))  # comma
        self.assertIn(b"\xa0", raw)                                    # cp1252 NBSP
        self.assertTrue(re.search(rb",\d{1,2}/\d{1,2}/\d{4},", raw))   # M/d/yyyy
        self.assertGreater(self.a[3][0], self.a[2].etl(*self.a[3])["day1"]["dedup_survivors"])

    def test_ground_truth_is_consistent(self):
        t = self.a[2].etl(*self.a[3])
        d1, d2 = t["day1"], t["day2"]
        self.assertEqual(d1["lines"], self.a[0].count(b"\r\n") - 1)
        self.assertGreater(d2["fact_rows"], d1["dedup_survivors"])
        self.assertGreater(Decimal(d2["sum_sales"]), Decimal(d1["sum_sales"]))
        self.assertGreater(d2["scd2_changed"]["customer"], 0)
        self.assertGreater(d2["scd2_changed"]["product"], 0)
        self.assertEqual(d2["dims"]["customer"],
                         d1["dims"]["customer"] + d2["scd2_changed"]["customer"]
                         + d2["dims"]["customer_current"] - d1["dims"]["customer"])
        self.assertEqual(d1["marts"]["pivotByCategory"]["sum"], 2 * d1["dedup_survivors"])

    def test_slicer_answers_add_up(self):
        truth = self.a[2]
        n = truth.etl(*self.a[3])["day1"]["dedup_survivors"]
        _, rows = truth.answer("pivotByCategory", None, None, None)
        self.assertEqual([r for r in rows if r[0] is None][0][1], n)
        _, west = truth.answer("chartCategoryBar", ["West"], None, None)
        _, east = truth.answer("chartCategoryBar", ["East"], None, None)
        _, both = truth.answer("chartCategoryBar", ["East", "West"], None, None)
        self.assertEqual(sum(r[1] for r in west) + sum(r[1] for r in east),
                         sum(r[1] for r in both))

    def test_cell_encoding_matches_java_bigdecimal(self):
        # new java.math.BigDecimal(0.1).toPlainString() and friends
        self.assertEqual(gen.fmt(0.1),
                         "0.1000000000000000055511151231257827021181583404541015625")
        self.assertEqual(gen.fmt(0.5), "0.5")
        self.assertEqual(gen.fmt(Decimal("-0.0000")), "0.0000")
        self.assertEqual(gen.fmt(None), "\\N")


class SpecTest(unittest.TestCase):

    def test_benchmark_json_shape(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(name.match(n) for n in names))
        self.assertTrue(all(unit.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"]))
        self.assertTrue(all(set(m) == {"name", "unit", "better", "bound"} and
                            0 < m["bound"] <= 0.25 for m in b["end_to_end"]))
        self.assertTrue(all(set(m) == {"name", "unit", "better"} for m in b["per_layer"]))
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])
        self.assertTrue(2 <= len(b["workloads"]) <= 8)

    def test_runner_matches_benchmark_json(self):
        import run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual(sorted(m["name"] for m in b["per_layer"]
                                if m["name"].startswith("mix.")),
                         sorted(f"mix.{q}_s" for q in run.MIX))


if __name__ == "__main__":
    unittest.main()
