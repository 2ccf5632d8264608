"""Output checks that run outside the timed region.

``trips_match`` recomputes the 4 transform views with DuckDB SQL straight
from the generated CSV, following the engine's cleaning and view
semantics, and compares them with the Parquet views the engine wrote. It
also checks the stream lane: its archive must equal the batch lane's
ingest of the same rows, and the enriched sink must hold one row per
input row whose pickup and dropoff areas are both known.
``digests_match`` keeps the first run's query result digests in the
build directory and compares every later run with them.
"""
import json
import math
import os

import duckdb

MONEY_COLS = ("fare", "tips", "tolls", "extras", "trip_total")
TS = "strptime({c}, '%m/%d/%Y %I:%M:%S %p')"


def cleaned_sql(csv):
    """The engine's cleaning projection over the raw CSV, as DuckDB SQL:
    12-hour timestamps, currency stripped of '$', ',' and ')', and the
    lossy miles cast that truncates toward zero."""
    money = ", ".join(
        "TRY_CAST(replace(replace(replace(%s, '$', ''), ',', ''), ')', '') AS DOUBLE) AS %s" % (c, c)
        for c in MONEY_COLS)
    return """SELECT trip_id, taxi_id, {start} AS ts, {end} AS te,
      TRY_CAST(trip_seconds AS INTEGER) AS trip_seconds,
      CAST(trunc(TRY_CAST(trip_miles AS DOUBLE)) AS INTEGER) AS trip_miles,
      pickup_census_tract, dropoff_census_tract,
      TRY_CAST(pickup_community_area AS INTEGER) AS pickup_community_area,
      TRY_CAST(dropoff_community_area AS INTEGER) AS dropoff_community_area,
      {money}, payment_type, company,
      pickup_centroid_latitude, pickup_centroid_longitude, pickup_centroid_location,
      dropoff_centroid_latitude, dropoff_centroid_longitude, dropoff_centroid_location
    FROM read_csv('{csv}', header = true, all_varchar = true, quote = '"')""".format(
        start=TS.format(c="trip_start_timestamp"), end=TS.format(c="trip_end_timestamp"),
        money=money, csv=csv)


def enriched_sql(year):
    """Dedup, day-truncate and left-join both area projections."""
    return """SELECT p.*, pa.community AS pickup_community_area_name,
      pa.area_centroid_latitude AS pickup_centroid_latitude,
      pa.area_centroid_longitude AS pickup_centroid_longitude,
      da.community AS dropoff_community_area_name,
      da.area_centroid_latitude AS dropoff_centroid_latitude,
      da.area_centroid_longitude AS dropoff_centroid_longitude
    FROM (SELECT trip_id, taxi_id, company, CAST(date_trunc('day', ts) AS TIMESTAMP) AS trip_start_date,
            trip_seconds, trip_miles, pickup_community_area, dropoff_community_area,
            fare, tips, tolls, extras, trip_total, payment_type
          FROM (SELECT DISTINCT * FROM cleaned WHERE year(ts) = %d)) p
    LEFT JOIN areas pa ON p.pickup_community_area = pa.area_number
    LEFT JOIN areas da ON p.dropoff_community_area = da.area_number""" % year


def views_sql(year):
    """The 4 views of one year: company x day x area, then day x area with
    the engine's strict-parity count of distinct per-company taxi counts."""
    out = {}
    for side in ("pickup", "dropoff"):
        l2 = ("trip_start_date, {s}_community_area, {s}_community_area_name, "
              "{s}_centroid_latitude, {s}_centroid_longitude").format(s=side)
        l1 = "company, " + l2
        company = ("SELECT {k}, sum(fare) AS fares, sum(tips) AS tips, sum(tolls) AS tolls, "
                   "sum(extras) AS extras, sum(trip_total) AS trip_totals, "
                   "count(trip_id) AS trips, count(DISTINCT taxi_id) AS taxis "
                   "FROM enriched_{y} GROUP BY {k}").format(k=l1, y=year)
        area = ("SELECT {k}, sum(fares) AS fares, sum(tips) AS tips, sum(tolls) AS tolls, "
                "sum(extras) AS extras, sum(trip_totals) AS trip_totals, sum(trips) AS trips, "
                "count(DISTINCT taxis) AS taxis FROM ({c}) GROUP BY {k}").format(k=l2, c=company)
        out["companies_%s_area_view_%d" % (side, year)] = company
        out["%s_area_view_%d" % (side, year)] = area
    return out


MEASURES = ("fares", "tips", "tolls", "extras", "trip_totals")


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _keyed(cols, rows):
    """group keys and counts -> float measures, for a tolerant compare"""
    fi = [i for i, c in enumerate(cols) if c in MEASURES]
    ki = [i for i, c in enumerate(cols) if c not in MEASURES]
    out = {}
    for r in rows:
        key = tuple(r[i] for i in ki)
        out.setdefault(key, []).append(tuple(r[i] for i in fi))
    return out


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _views_match(con, csv, areas, years, views_dir):
    con.execute("CREATE TABLE cleaned AS " + cleaned_sql(csv))
    con.execute("""CREATE TABLE areas AS SELECT CAST(area_number AS INTEGER) AS area_number,
        community, area_centroid_latitude, area_centroid_longitude
        FROM read_csv('%s', header = true, all_varchar = true)""" % areas)
    results = []
    for y in years:
        con.execute("CREATE TABLE enriched_%d AS %s" % (y, enriched_sql(y)))
        for name, sql in views_sql(y).items():
            want_cols, want = _rows(con, sql)
            got_cols, got = _rows(con, "SELECT %s FROM read_parquet('%s/%s/*.parquet')"
                                  % (", ".join(want_cols), views_dir, name))
            a, b = _keyed(want_cols, want), _keyed(got_cols, got)
            bad = [k for k in set(a) | set(b)
                   if k not in a or k not in b or len(a[k]) != len(b[k]) or not all(
                       _close(x, z) for ra, rb in zip(sorted(a[k]), sorted(b[k])) for x, z in zip(ra, rb))]
            results.append(("view:" + name, not bad and len(want) == len(got),
                            "duckdb %d rows, engine %d rows, %d mismatched groups"
                            % (len(want), len(got), len(bad))))
    return results


def _stream_match(con, outputs, inner_rows):
    """The archive must equal the batch ingest of the same rows, except for
    trip_miles: the stream receives miles as strings, and the engine's int
    cast of a decimal string is null, while the batch CSV schema reads a
    double and truncates it. Every generated mileage has a decimal."""
    def table(path):
        return "read_parquet('%s/**/*.parquet', hive_partitioning = true)" % path
    cols = "* EXCLUDE (trip_miles)"
    only_archive, only_batch = (con.execute(
        "SELECT count(*) FROM (SELECT %s FROM %s EXCEPT ALL SELECT %s FROM %s)"
        % (cols, table(a), cols, table(b))).fetchone()[0]
        for a, b in ((outputs["archive"], outputs["trips"]), (outputs["trips"], outputs["archive"])))
    miles = con.execute("SELECT count(trip_miles) FROM %s" % table(outputs["archive"])).fetchone()[0]
    enriched = con.execute("SELECT count(*) FROM read_json('%s/*.json', format = 'newline_delimited', "
                           "columns = {key: 'VARCHAR', value: 'VARCHAR'})"
                           % outputs["enriched"]).fetchone()[0]
    return [
        ("archive_equals_batch_ingest", only_archive == 0 and only_batch == 0,
         "rows only in archive %d, only in batch %d" % (only_archive, only_batch)),
        ("archive_miles_null", miles == 0, "archive rows with trip_miles set: %d" % miles),
        ("enriched_inner_join_rows", enriched == inner_rows,
         "enriched %d, expected %d" % (enriched, inner_rows)),
    ]


def trips_match(inp, years, outputs, inner_rows):
    """Returns [(name, ok, detail)]: one per view, then the stream checks."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    try:
        return (_views_match(con, os.path.join(inp, "trips.csv"), os.path.join(inp, "areas.csv"),
                             years, outputs["views"])
                + _stream_match(con, outputs, inner_rows))
    finally:
        con.close()


def digests_match(digests, path):
    """Compares query digests with those the first run in this build
    directory recorded for the same query; a query's first run records it."""
    first = {}
    if os.path.exists(path):
        with open(path) as f:
            first = json.load(f)
    out = [("digest_across_runs:" + k, first.get(k, v) == v, "first=%s now=%s" % (first.get(k), v))
           for k, v in sorted(digests.items())]
    if any(k not in first for k in digests):
        with open(path, "w") as f:
            json.dump(dict(digests, **first), f, sort_keys=True, indent=1)
    return out
