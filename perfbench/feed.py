"""Seeded NeoWs feed documents for the medallion workloads.

One document per feed day, shaped like the NASA NeoWs `feed` response
that `BronzeToSilver` reads (FIXTURES.md section 1). Each day draws
`per_day` NEOs from a growing id pool, so ids are re-observed across
days, and each NEO carries 0 to 3 close approaches, all dated the feed
day (the silver partition the gold stage reads) at distinct minutes.
The FIXTURES.md edges ride along at low rates: placeholder strings
("NULL", "Null", "", "  Earth  "), JSON-null orbiting bodies and
`close_approach_date_full`, and NEOs with an empty approach list.

`Feed.expected` is the gold state the medallion pipeline must reach
after each day, computed from the generated records alone, without any
graft code: rows of the three dimensions and the fact, the serving star
join's row count, and the bronze bytes ingested. The fact holds one row
per key (asteroid, `approach_date_full`), except after a lake's first
day: like the reference's `save_or_update_table`, the first gold write
stores the incoming rows without a merge, so two approaches of one NEO
whose dates are both null (the same key) stay two rows until the next
day's merge.
"""
import random
from datetime import date, timedelta

BODIES = ["Earth", "Mars", "Venus", "Merc", "Juptr"]
REOBSERVED = 0.3  # share of a day's NEOs drawn from ids seen before
EDGE_RATE = 0.03  # chance that a string field takes an edge spelling
PLACEHOLDERS = ("NULL", "Null", "")
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()


def normalize(v):
    """The placeholder rule of graft's silver stage: trim, and map the
    placeholders to null."""
    if v is None:
        return None
    t = v.strip()
    return None if t in PLACEHOLDERS else t


def _maybe_placeholder(rng, value, rate):
    """`value`, or one of its raw edge spellings with probability `rate`."""
    if rng.random() >= rate:
        return value
    return rng.choice([None, "NULL", "Null", "", f"  {value}  "])


def _js(v):
    return "null" if v is None else '"%s"' % v


class Feed:
    """Feed days `start, start+1, ...` for one seed; `days(n)` renders
    them in order and records the cumulative expected gold state."""

    def __init__(self, seed, per_day, start="2026-08-01"):
        self.rng = random.Random(seed)
        self.per_day = per_day
        self.start = date.fromisoformat(start)
        self.pool = []
        self.next_id = 2000000 + self.rng.randrange(1000) * 1000
        self.asteroids, self.bodies, self.dates = set(), set(), set()
        self.fact = {}
        self.bronze_bytes = 0
        self.expected = []

    def _neo(self, neo_id, day):
        rng = self.rng
        mag = round(rng.uniform(15.0, 30.0), 3)
        dmin = round(10 ** (3.1 - 0.2 * mag), 6)
        dmax = round(dmin * 2.2361, 6)
        n_app = rng.choices([0, 1, 2, 3], [0.03, 0.62, 0.25, 0.10])[0]
        minutes = sorted(rng.sample(range(1440), n_app))
        apps = []
        for m in minutes:
            full = f"{day.year}-{MONTHS[day.month - 1]}-{day.day:02d} " \
                   f"{m // 60:02d}:{m % 60:02d}"
            full = _maybe_placeholder(rng, full, EDGE_RATE)
            body = _maybe_placeholder(
                rng, rng.choices(BODIES, [0.8, 0.06, 0.06, 0.04, 0.04])[0],
                EDGE_RATE)
            kms = rng.uniform(1.0, 40.0)
            au = rng.uniform(0.001, 0.5)
            epoch = int((day - date(1970, 1, 1)).total_seconds() + m * 60)
            apps.append((full, body, (
                '{"close_approach_date": "%s", '
                '"close_approach_date_full": %s, '
                '"epoch_date_close_approach": %d, '
                '"relative_velocity": {"kilometers_per_second": "%.6f", '
                '"kilometers_per_hour": "%.4f", "miles_per_hour": "%.4f"}, '
                '"miss_distance": {"astronomical": "%.9f", "lunar": "%.6f", '
                '"kilometers": "%.3f", "miles": "%.3f"}, '
                '"orbiting_body": %s}') % (
                    day.isoformat(), _js(full), epoch * 1000, kms,
                    kms * 3600, kms * 2236.94, au, au * 389.17,
                    au * 149597870.7, au * 92955807.3, _js(body))))
        name = _maybe_placeholder(rng, f"({2000 + neo_id % 26} "
                                       f"{chr(65 + neo_id % 26)}"
                                       f"{chr(65 + neo_id // 26 % 26)}"
                                       f"{neo_id % 97})", EDGE_RATE)
        doc = (
            '{"links": {"self": "http://api.nasa.gov/neo/rest/v1/neo/%d"}, '
            '"id": "%d", "neo_reference_id": "%d", "name": %s, '
            '"nasa_jpl_url": "https://ssd.jpl.nasa.gov/tools/sbdb_lookup.html#/?sstr=%d", '
            '"absolute_magnitude_h": %s, '
            '"estimated_diameter": {'
            '"kilometers": {"estimated_diameter_min": %s, "estimated_diameter_max": %s}, '
            '"meters": {"estimated_diameter_min": %s, "estimated_diameter_max": %s}, '
            '"miles": {"estimated_diameter_min": %s, "estimated_diameter_max": %s}, '
            '"feet": {"estimated_diameter_min": %s, "estimated_diameter_max": %s}}, '
            '"is_potentially_hazardous_asteroid": %s, '
            '"close_approach_data": [%s], "is_sentry_object": %s}') % (
                neo_id, neo_id, neo_id, _js(name), neo_id, mag, dmin, dmax,
                round(dmin * 1000, 4), round(dmax * 1000, 4),
                round(dmin * 0.621371, 6), round(dmax * 0.621371, 6),
                round(dmin * 3280.84, 4), round(dmax * 3280.84, 4),
                "true" if rng.random() < 0.07 else "false",
                ", ".join(a[2] for a in apps),
                "true" if rng.random() < 0.01 else "false")
        return doc, [(a[0], a[1]) for a in apps]

    def _day(self, day):
        rng = self.rng
        ids = set()
        n_old = min(len(self.pool), int(self.per_day * REOBSERVED))
        ids.update(rng.sample(self.pool, n_old))
        while len(ids) < self.per_day:
            self.next_id += rng.randrange(1, 50)
            ids.add(self.next_id)
            self.pool.append(self.next_id)
        neos = []
        rows = 0
        for neo_id in sorted(ids):
            doc, apps = self._neo(neo_id, day)
            neos.append(doc)
            rows += len(apps)
            if apps:
                self.asteroids.add(neo_id)
            for full, body in apps:
                full, body = normalize(full), normalize(body)
                if body is not None:
                    self.bodies.add(body)
                if full is not None:
                    self.dates.add(full)
                self.fact[(neo_id, full)] = body
        d = day.isoformat()
        text = ('{"links": {"self": "http://api.nasa.gov/neo/rest/v1/feed?'
                'start_date=%s&end_date=%s"}, "element_count": %d, '
                '"near_earth_objects": {"%s": [%s]}}') % (
                    d, d, len(neos), d, ", ".join(neos))
        self.bronze_bytes += len(text.encode("utf-8"))
        self.expected.append({
            "date": d,
            "dim_asteroid": len(self.asteroids),
            "dim_orbiting_body": len(self.bodies),
            "dim_approach_date": len(self.dates),
            "fact_asteroid_approach":
                len(self.fact) if self.expected else rows,
            "star_join": sum(1 for (_, full), body in self.fact.items()
                             if full is not None and body is not None),
            "bronze_bytes": self.bronze_bytes})
        return d, text

    def days(self, n):
        """The next `n` feed days as (iso date, document text)."""
        out = []
        for _ in range(n):
            day = self.start + timedelta(days=len(self.expected))
            out.append(self._day(day))
        return out
