"""Seeded Chicago-taxi-trips generator: raw CSV and producer JSON lines.

The real Chicago dataset is not in the repository, so this generator
stands in for it. One seed gives byte-identical files. It reproduces the
edge cases of the engine's trips fixture at the shares in ``SHARES``:

- ``$1,200.00``-style currency with a thousands separator (quoted in CSV);
- lossy miles: every mileage has one decimal, many are below one mile;
- empty trip_seconds, census tracts and company;
- pickup or dropoff area 99, which the areas master does not know;
- null pickup and dropoff areas;
- exact duplicate rows;
- trips spread over every month of ``YEARS``;
- Zipf-skewed company, taxi and area keys.

Run ``python3 perfbench/gen.py <out_dir> <seed> <rows> <files>`` to write
``trips.csv``, ``feed/part-*.json`` and ``areas.csv`` by hand.
"""
import bisect
import json
import os
import random
import sys

HEADER = [
    "trip_id", "taxi_id", "trip_start_timestamp", "trip_end_timestamp",
    "trip_seconds", "trip_miles", "pickup_census_tract",
    "dropoff_census_tract", "pickup_community_area",
    "dropoff_community_area", "fare", "tips", "tolls", "extras",
    "trip_total", "payment_type", "company", "pickup_centroid_latitude",
    "pickup_centroid_longitude", "pickup_centroid_location",
    "dropoff_centroid_latitude", "dropoff_centroid_longitude",
    "dropoff_centroid_location",
]

# Share of generated rows carrying each edge case (independent draws).
SHARES = {
    "thousands_currency": 0.02,
    "empty_seconds": 0.03,
    "empty_tracts": 0.60,
    "empty_company": 0.04,
    "unknown_area": 0.03,
    "null_area": 0.03,
    "duplicate": 0.02,
}
YEARS = (2020, 2021)
AREAS = 77
UNKNOWN_AREA = 99
COMPANIES = 40
TAXIS = 1500
ZIPF_S = 1.1
PAYMENTS = ("Credit Card", "Cash", "Mobile", "Prcard", "Unknown")


def zipf_cum(n, s):
    weights = [1.0 / (k ** s) for k in range(1, n + 1)]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    return cum


def area_centroid(area):
    return "%.6f" % (41.65 + area * 0.0047), "%.6f" % (-87.90 + area * 0.0039)


def money(cents):
    return "$" + "{:,}".format(cents // 100) + ".%02d" % (cents % 100)


def ts12(year, month, day, secs):
    h, rem = divmod(secs, 3600)
    m, s = divmod(rem, 60)
    ampm = "AM" if h < 12 else "PM"
    h12 = h % 12 or 12
    return "%02d/%02d/%04d %02d:%02d:%02d %s" % (month, day, year, h12, m, s, ampm)


def days_in(year, month):
    if month == 2:
        return 29 if year % 4 == 0 else 28
    return 30 if month in (4, 6, 9, 11) else 31


class Trips:
    """Deterministic stream of trip records (dicts of raw strings, None = empty)."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        order = list(range(1, AREAS + 1))
        self.rng.shuffle(order)
        self.area_order = order
        self.area_cum = zipf_cum(AREAS, ZIPF_S)
        self.company_cum = zipf_cum(COMPANIES, ZIPF_S)
        self.taxi_cum = zipf_cum(TAXIS, 0.8)
        self.emitted = []
        self.n = 0

    def _zipf(self, cum):
        return bisect.bisect_left(cum, self.rng.random() * cum[-1])

    def _area(self):
        r = self.rng.random()
        if r < SHARES["null_area"]:
            return None
        if r < SHARES["null_area"] + SHARES["unknown_area"]:
            return UNKNOWN_AREA
        return self.area_order[self._zipf(self.area_cum)]

    def _fresh(self):
        rng = self.rng
        self.n += 1
        year = YEARS[rng.randrange(len(YEARS))]
        month = rng.randrange(1, 13)
        day = rng.randrange(1, days_in(year, month) + 1)
        start = rng.randrange(0, 86400 - 7200)
        dur = rng.randrange(60, 7200)
        tenths = int(rng.expovariate(1 / 40.0)) + 1
        pickup, dropoff = self._area(), self._area()
        tracts = rng.random() < SHARES["empty_tracts"]
        if rng.random() < SHARES["thousands_currency"]:
            fare = rng.randrange(100000, 250000)
        else:
            fare = 325 + tenths * 22 + rng.randrange(0, 400)
        tips = rng.choice((0, 0, 100, 200, fare // 5))
        tolls = rng.choice((0, 0, 0, 0, 150))
        extras = rng.choice((0, 0, 100, 200, 400))
        company = self._zipf(self.company_cum)
        self.key = (year, month, day, start)  # event time, to order the feed
        rec = {
            "trip_id": "t%d_%06x" % (self.n, rng.getrandbits(24)),
            "taxi_id": "taxi%04d" % self._zipf(self.taxi_cum),
            "trip_start_timestamp": ts12(year, month, day, start),
            "trip_end_timestamp": ts12(year, month, day, start + dur),
            "trip_seconds": None if rng.random() < SHARES["empty_seconds"] else str(dur),
            "trip_miles": "%d.%d" % divmod(tenths, 10),
            "pickup_census_tract": None if tracts else "170310%05d" % rng.randrange(100000),
            "dropoff_census_tract": None if tracts else "170310%05d" % rng.randrange(100000),
            "pickup_community_area": None if pickup is None else str(pickup),
            "dropoff_community_area": None if dropoff is None else str(dropoff),
            "fare": money(fare),
            "tips": money(tips),
            "tolls": money(tolls),
            "extras": money(extras),
            "trip_total": money(fare + tips + tolls + extras),
            "payment_type": PAYMENTS[rng.randrange(len(PAYMENTS))],
            "company": None if rng.random() < SHARES["empty_company"] else "Company %02d Cab" % company,
        }
        for side, area in (("pickup", pickup), ("dropoff", dropoff)):
            if area is None:
                lat = lon = loc = None
            else:
                lat, lon = area_centroid(area)
                loc = "POINT (%s %s)" % (lon, lat)
            rec[side + "_centroid_latitude"] = lat
            rec[side + "_centroid_longitude"] = lon
            rec[side + "_centroid_location"] = loc
        return rec

    def next(self):
        """Returns (time key, record); a duplicate repeats an earlier record."""
        if self.emitted and self.rng.random() < SHARES["duplicate"]:
            item = self.emitted[self.rng.randrange(len(self.emitted))]
        else:
            rec = self._fresh()
            item = (self.key, rec)
            self.emitted.append(item)
            if len(self.emitted) > 512:
                self.emitted = self.emitted[256:]
        return item


def csv_field(v):
    if v is None:
        return ""
    return '"%s"' % v if "," in v else v


def csv_line(rec):
    return ",".join(csv_field(rec[c]) for c in HEADER)


def json_line(rec):
    return json.dumps(rec, separators=(",", ":"))


def joins_both_areas(rec):
    """True when the streaming INNER enrichment keeps the row."""
    known = lambda v: v is not None and 1 <= int(v) <= AREAS
    return known(rec["pickup_community_area"]) and known(rec["dropoff_community_area"])


def write_areas(path):
    with open(path, "w", newline="\n") as f:
        f.write("area_number,community,area_centroid_latitude,area_centroid_longitude,the_geom\n")
        for a in range(1, AREAS + 1):
            lat, lon = area_centroid(a)
            f.write("%d,AREA %02d,%s,%s,MULTIPOLYGON (((%d %d)))\n" % (a, a, lat, lon, a, a))


def generate(out_dir, seed, rows, files=0):
    """Write ``areas.csv``, ``trips.csv`` and, when ``files`` is positive,
    the same rows as producer JSON lines split over ``files`` files under
    ``feed/``. Returns a manifest of what was written."""
    os.makedirs(out_dir, exist_ok=True)
    write_areas(os.path.join(out_dir, "areas.csv"))
    gen = Trips(seed)
    items = [gen.next() for _ in range(rows)]
    recs = [r for _, r in items]
    manifest = {"seed": seed, "rows": rows, "files": files,
                "inner_join_rows": sum(1 for r in recs if joins_both_areas(r))}
    path = os.path.join(out_dir, "trips.csv")
    with open(path, "w", newline="\n") as f:
        f.write(",".join(HEADER) + "\n")
        f.write("\n".join(csv_line(r) for r in recs) + "\n")
    manifest["csv_bytes"] = os.path.getsize(path)
    if files:
        feed = os.path.join(out_dir, "feed")
        os.makedirs(feed, exist_ok=True)
        # the feed is in event-time order, as a producer replaying the
        # dataset sends it, so each micro-batch spans few month partitions
        ordered = [r for _, r in sorted(items, key=lambda kv: kv[0])]
        per = -(-rows // files)
        size = 0
        for i in range(files):
            chunk = ordered[i * per:(i + 1) * per]
            path = os.path.join(feed, "part-%04d.json" % i)
            with open(path, "w", newline="\n") as f:
                f.write("\n".join(json_line(r) for r in chunk) + "\n")
            size += os.path.getsize(path)
        manifest["json_bytes"] = size
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    out, seed, rows, files = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    print(json.dumps(generate(out, seed, rows, files)))
