"""The benchmark's own tests: feed determinism and expected gold counts,
and the frozen query lists.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run
from feed import Feed, normalize


def recount(days):
    """Gold state after each day, recounted from the parsed documents."""
    asteroids, bodies, dates, fact, out = set(), set(), set(), {}, []
    for d, text in days:
        rows = 0
        doc = json.loads(text)
        assert list(doc["near_earth_objects"]) == [d]
        for neo in doc["near_earth_objects"][d]:
            apps = neo["close_approach_data"]
            if apps:
                asteroids.add(int(neo["id"]))
            for a in apps:
                rows += 1
                assert a["close_approach_date"] == d
                full = normalize(a["close_approach_date_full"])
                body = normalize(a["orbiting_body"])
                bodies.update([body] if body else [])
                dates.update([full] if full else [])
                fact[(int(neo["id"]), full)] = body
        # the first gold write stores the day's rows without a merge
        out.append((len(asteroids), len(bodies), len(dates),
                    len(fact) if out else rows,
                    sum(1 for (_, f), b in fact.items() if f and b)))
    return out


class FeedTest(unittest.TestCase):
    def test_same_seed_same_documents(self):
        self.assertEqual(Feed(7, 40).days(3), Feed(7, 40).days(3))
        self.assertNotEqual(Feed(7, 40).days(3), Feed(8, 40).days(3))

    def test_expected_counts_match_the_documents(self):
        f = Feed(7, 40)
        days = f.days(4)
        got = [(e["dim_asteroid"], e["dim_orbiting_body"],
                e["dim_approach_date"], e["fact_asteroid_approach"],
                e["star_join"]) for e in f.expected]
        self.assertEqual(got, recount(days))
        self.assertEqual(f.expected[-1]["bronze_bytes"],
                         sum(len(t.encode()) for _, t in days))

    def test_pinned_counts_on_a_small_seed(self):
        f = Feed(7, 40)
        f.days(3)
        self.assertEqual(
            [(e["dim_asteroid"], e["dim_orbiting_body"],
              e["dim_approach_date"], e["fact_asteroid_approach"],
              e["star_join"]) for e in f.expected],
            PINNED)

    def test_first_day_keeps_duplicate_fact_keys(self):
        f = Feed(13, 150)
        d, text = f.days(1)[0]
        keys = {(n["id"], normalize(a["close_approach_date_full"]))
                for n in json.loads(text)["near_earth_objects"][d]
                for a in n["close_approach_data"]}
        self.assertEqual(f.expected[0]["fact_asteroid_approach"],
                         len(keys) + 1)

    def test_ids_are_reobserved_and_edges_occur(self):
        days = Feed(7, 400).days(2)
        ids = [{n["id"] for n in json.loads(t)["near_earth_objects"][d]}
               for d, t in days]
        self.assertTrue(ids[0] & ids[1])
        text = days[0][1] + days[1][1]
        for edge in ('"orbiting_body": null', '"orbiting_body": "NULL"',
                     '"orbiting_body": "Null"', '"orbiting_body": ""',
                     '"orbiting_body": "  ', '"close_approach_date_full": null',
                     '"close_approach_data": []'):
            self.assertIn(edge, text)


class QueryListTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.HERE, "queries.json")) as f:
            self.q = json.load(f)
        with open(os.path.join(run.HERE, "expected.json")) as f:
            self.expected = json.load(f)["queries"]

    def test_lists_are_disjoint_and_frozen(self):
        light = {e["name"] for e in self.q["light"]}
        heavy = {e["name"] for e in self.q["heavy"]}
        self.assertFalse(light & heavy)
        self.assertEqual(light | heavy, set(self.expected))
        self.assertTrue(all(e["r16_s"] < 1 for e in self.q["light"]))
        self.assertTrue(all(e["r16_s"] >= 1 for e in self.q["heavy"]))

    def test_sample_is_fixed_and_the_seed_orders_it(self):
        for name in ("board_light", "board_heavy"):
            w = run.WORKLOADS[name]
            pool = self.q[w["pool"]]
            a, b = run.sample(pool, w, 1), run.sample(pool, w, 2)
            self.assertEqual(sorted(a), sorted(b))
            self.assertEqual(a, run.sample(pool, w, 1))
            self.assertEqual(len(set(a)), w["sample"] + w["streaming"])
        light = run.sample(self.q["light"], run.WORKLOADS["board_light"], 1)
        modules = {e["name"]: e["module"] for e in self.q["light"]}
        self.assertIn(run.STREAMING, {modules[n] for n in light})


PINNED = [(39, 5, 54, 55, 51), (66, 5, 106, 109, 100), (92, 5, 162, 167, 157)]

if __name__ == "__main__":
    unittest.main()
