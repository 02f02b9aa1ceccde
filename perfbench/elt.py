"""``elt_refresh``: the reference's own path, raw CSV -> staging -> star
schema -> KPI datamart -> ad-hoc a-d, as a full refresh followed by one
incremental month, measured cold as a batch refresh runs.

Inputs are seeded monthly listing CSVs written with the repository's own
fixture generator (``tests/fixtures.listing_row``; census, LGA and SSC files
from ``write_fixtures``). Each listing keeps its suburb, host and host
location across months, so ad-hoc c's per-(host, listing) pick is
deterministic. Outputs are checked against a DuckDB recomputation of the
same transforms over the same CSVs.
"""

from __future__ import annotations

import csv
import os
import random
import shutil
import sys
import time

from .checks import canon_rows
from .harness import dir_bytes, fail, median

SUBURBS = [
    "Bondi", "Manly", "Newtown", "Mosman", "Sydney", "Leichhardt", "Bondi Junction",
    # no SSC match: resolved by the fact table's CASE ladders
    "Balmoral Beach", "North Curl Curl Beach", "Kings Cross", "Dee Why Beach", "Unknownville",
]
HOST_PLACES = ["Bondi", "Manly", "Newtown", "Mosman", "Sydney", "Avalon", "Faraway"]
PTYPES = ["Apartment", "House", "Townhouse", "Villa", "Loft", "\\N"]
RTYPES = ["Entire home/apt", "Private room", "Shared room", "Hotel room"]
FIRST_MONTH = (2020, 5)


def _month(i: int) -> tuple[int, int]:
    y, m = FIRST_MONTH
    m0 = m - 1 + i
    return y + m0 // 12, m0 % 12 + 1


def generate(root: str, seed: int, months: int, rows_per_month: int) -> str:
    """Write ``months`` listing files plus one held-back month (named so
    the refresh's ``*listings*.csv`` pattern skips it) under ``root``."""
    tests = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from fixtures import HEADER, listing_row, write_fixtures

    if os.path.exists(root):
        shutil.rmtree(root)
    write_fixtures(root)  # census G01/G02, LGA and SSC + 3 tiny listing files
    for fn in os.listdir(root):
        if fn.endswith("_listings.csv"):
            os.remove(os.path.join(root, fn))
    rng = random.Random(seed)
    n_listings = rows_per_month
    n_hosts = max(2, n_listings // 3)
    hosts = [
        (str(h), None if rng.random() < 0.05 else f"{rng.choice(HOST_PLACES)}, NSW",
         str(rng.choice([1, 1, 2, 3, 10])), "t" if rng.random() < 0.3 else "f")
        for h in range(n_hosts)
    ]
    listings = []
    for i in range(n_listings):
        sub = rng.choice(SUBURBS)
        listings.append(
            (f"L{i}", hosts[rng.randrange(n_hosts)], None if rng.random() < 0.02 else sub,
             rng.choice(PTYPES), rng.choice(RTYPES), str(rng.randrange(1, 9)))
        )
    for mi in range(months + 1):
        year, month = _month(mi)
        kind = "listings" if mi < months else "holdback"
        with open(os.path.join(root, f"{month:02d}_{year}_{kind}.csv"), "w", newline="") as fh:
            w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL)
            w.writerow(HEADER)
            for lid, host, sub, ptype, rtype, acc in listings:
                if rng.random() < 0.1:
                    continue  # not scraped this month
                day = rng.randrange(1, 29)
                scraped = f"{year}-{month:02d}-{day:02d}"
                if rng.random() < 0.01:
                    scraped = f"{year - 1}-12-31"  # out-of-month scrape
                price = rng.randrange(50, 999)
                price_s = f"$1,{price:03d}.00" if rng.random() < 0.02 else f"${price}.00"
                row = listing_row(
                    c1=lid, c4=scraped,
                    c9=None if rng.random() < 0.01 else host[0],
                    c13=host[1], c27=None if sub is None else f"{sub}, Sydney",
                    c28=sub, c32=ptype, c33=rtype, c34=acc, c40=price_s,
                    c50="t" if rng.random() < 0.8 else "f",
                    c51=str(rng.randrange(0, 31)), c18=host[3], c22=host[2],
                )
                w.writerow(row)
                if rng.random() < 0.01:
                    w.writerow(row)  # duplicate (id, file) row
    return root


# ---------------------------------------------------------------- oracle
_NB_LADDER = """
CASE
  WHEN {s} IN ('AVALON','BILGOLA','COLLAROY BEACH','DEE WHY BEACH','GREAT MACKERAL BEACH',
             'MANLY BEACH','MANLY BEACON HILL','NEWPORT BEACH','NORTH NORTH CURL CURL',
             'NORTHERN BEACHES','WARRIEWOOD BEACH') OR {s} LIKE 'NORTH CURL CURL%'
       THEN 'NORTHERN BEACHES'
  WHEN {s} = 'BALMORAL BEACH' THEN 'MOSMAN'
  WHEN {s} = 'BARPOINT' THEN 'CENTRAL COAST'
  WHEN {s} = 'BEACONSFIED' THEN 'SYDNEY'
  WHEN {s} IN ('BEROWRA CREEK','SYDNEY BEROWRA HEIGHTS') THEN 'HORNSBY'
  WHEN {s} = 'BONDI JUNCTION SYDNEY' THEN 'WAVERLEY'
  WHEN {s} = 'BRIGHTON LE SANDS' THEN 'BAYSIDE'
  WHEN {s} LIKE '%DARLING HARBOUR' OR {s} IN ('DARLINGHURST SYDNEY','KINGS CROSS','PORT JACKSON',
       'SYDNEY HARBOUR','SYNDEY','РЕДФЕРН','悉尼') THEN 'SYDNEY'
  WHEN {s} = 'HURSTVILLE SYDNEY' THEN 'GEORGES RIVER'
  WHEN {s} IN ('KENSIGNTON','MAROUBRA BEACH','MAROUBRA JUNCTION') THEN 'RANDWICK'
  WHEN {s} = 'LIDCOMBE -SYDNEY' THEN 'PARRAMATTA'
  WHEN {s} = 'MANAHAN' THEN 'CANTERBURY-BANKSTOWN'
  WHEN {s} = 'MOSMAN SYDNEY' THEN 'MOSMAN'
  WHEN {s} = 'NSW 2065 AUSTRALIA' THEN 'WILLOUGHBY'
  WHEN {s} IN ('ROCKDALE CITY','石谷市') THEN 'BAYSIDE'
  WHEN {s} = 'TOONGABBIE EAST' THEN 'BLACKTOWN'
  WHEN {s} = '스트라스필드' THEN 'STRATHFIELD'
  WHEN {s} IS NULL THEN 'MISSING'
  ELSE 'OTHER'
END"""

_HOST_LADDER = """
CASE
  WHEN {s} = 'AVALON' THEN 'NORTHERN BEACHES'
  WHEN {s} = 'BELA VISTA' THEN 'THE HILLS SHIRE'
  WHEN {s} = 'BEVERLY PARK' THEN 'GEORGES RIVER'
  WHEN {s} = 'CENTRAL BUSINESS DISTRICT' THEN 'SYDNEY'
  WHEN {s} = 'DECEYVILLE' THEN 'BAYSIDE'
  WHEN {s} IS NULL THEN 'MISSING'
  ELSE 'OTHER'
END"""

_CSV = "header=true, all_varchar=true, quote='\"', escape='\"', nullstr=['\\N','NULL','NUL','']"


def _fact_sql(data_dir: str, listing_glob: str) -> str:
    nb = _NB_LADDER.format(s="neighbourhood_suburb")
    host = _HOST_LADDER.format(s="host_suburb")
    return f"""
    WITH raw AS (
      SELECT *, string_split(filename, '/')[-1] AS fname
      FROM read_csv('{data_dir}/{listing_glob}', {_CSV}, filename=true)
    ), st AS (
      SELECT DISTINCT col1 AS id, CAST(col4 AS DATE) AS last_scraped,
             CAST(col9 AS INTEGER) AS host_id, col13 AS host_location,
             col18 AS host_is_superhost, col22 AS host_listings_count,
             col27 AS neighbourhood, upper(col28) AS neighbourhood_cleansed_raw,
             col32 AS property_type, col33 AS room_type, col34 AS accommodates,
             TRY_CAST(string_split(col40, '$')[-1] AS DECIMAL(10,2)) AS price,
             col50 AS has_availability, col51 AS availability_30, fname AS filename
      FROM raw
    ), f AS (
      SELECT *,
             upper(trim(sp(sp(host_location, ',', 1), '-', 1))) AS host_suburb,
             trim(replace(replace(replace(replace(
               upper(sp(sp(neighbourhood, ',', 1), '/', 1)),
               'COUNCIL', ''), 'CITY OF', ''), 'OF THE', ''), 'SAINT', 'ST'))
               AS neighbourhood_suburb,
             make_date(CAST(sp(sp(filename, '.', 1), '_', 2) AS INTEGER),
                       CAST(sp(filename, '_', 1) AS INTEGER), 1) AS file_date
      FROM st WHERE price IS NOT NULL AND host_id IS NOT NULL
    ), j AS (
      SELECT f.*, l1.lga_name AS nb_lganame, l2.lga_name AS host_lganame
      FROM f LEFT JOIN location l1 ON f.neighbourhood_suburb = l1.suburb_name
             LEFT JOIN location l2 ON f.host_suburb = l2.suburb_name
      WHERE last_scraped BETWEEN file_date AND last_day(file_date)
    ), k AS (
      SELECT j.*,
             coalesce(nb_lganame, {nb}) AS neighbourhood_lga,
             coalesce(host_lganame, {host}) AS host_lga
      FROM j
    )
    SELECT k.*, d1.lga_code AS neighbourhood_lga_code, d2.lga_code AS host_lga_code
    FROM k LEFT JOIN (SELECT DISTINCT lga_name, lga_code FROM location) d1
             ON k.neighbourhood_lga = d1.lga_name
           LEFT JOIN (SELECT DISTINCT lga_name, lga_code FROM location) d2
             ON k.host_lga = d2.lga_name
    """


def _setup_oracle(con, data_dir: str) -> None:
    # Spark's split_part keeps NULL; DuckDB's turns it into ''
    con.sql("CREATE MACRO sp(s, d, i) AS CASE WHEN s IS NOT NULL THEN split_part(s, d, i) END")
    con.sql(f"""
    CREATE OR REPLACE TABLE location AS
    WITH j AS (
      SELECT l.lga_code AS lga_code,
             trim(upper(sp(s.ssc_name, ' (', 1))) AS suburb_name,
             trim(upper(sp(l.lga_name, ' (', 1))) AS lga_name,
             CAST(s.area AS DECIMAL(18,6)) AS area
      FROM read_csv('{data_dir}/*SSC*.csv', {_CSV}) s
      FULL JOIN read_csv('{data_dir}/*LGA*.csv', {_CSV}) l ON s.mb = l.mb
      WHERE l.lga_code IS NOT NULL
    ), d AS (
      SELECT DISTINCT lga_code, suburb_name, lga_name,
             sum(area) OVER (PARTITION BY lga_code) AS total_area FROM j
    )
    SELECT lga_code, lga_name, suburb_name FROM d
    QUALIFY row_number() OVER (PARTITION BY suburb_name ORDER BY total_area DESC) = 1
    """)
    con.sql(f"""
    CREATE OR REPLACE TABLE dim_census AS
    SELECT CAST(CAST(sp(r1.g1, 'LGA', 2) AS INTEGER) AS VARCHAR) AS lga_code,
           CAST(r1.g4 AS DECIMAL(18,6)) AS tot_p_p,
           CAST(r1.g55 AS DECIMAL(18,6)) AS indigenous_p_tot_p,
           CAST(r1.g70 AS DECIMAL(18,6)) AS australian_citizen_p,
           CAST(r2.h2 AS DECIMAL(18,6)) AS median_age_persons,
           CAST(r2.h3 AS DECIMAL(18,6)) AS median_mortgage_repay_monthly,
           CAST(r1.g13 AS DECIMAL(18,6)) AS a15, CAST(r1.g16 AS DECIMAL(18,6)) AS a20,
           CAST(r1.g19 AS DECIMAL(18,6)) AS a25, CAST(r1.g22 AS DECIMAL(18,6)) AS a35,
           CAST(r1.g28 AS DECIMAL(18,6)) AS a55, CAST(r1.g31 AS DECIMAL(18,6)) AS a65,
           CAST(r1.g34 AS DECIMAL(18,6)) AS a75
    FROM read_csv('{data_dir}/*G01*.csv', {_CSV}) r1
    FULL JOIN read_csv('{data_dir}/*G02*.csv', {_CSV}) r2 ON r1.g1 = r2.h1
    """)


# exact Spark semantics of dec(avg(decimal revenue)): avg rounds HALF_UP to
# scale 6, the KPI cast rounds HALF_UP again to scale 2. Revenue >= 0.
_AVG_REV = """CAST(((2 * ((2 * sum(CAST((30 - CAST(availability_30 AS BIGINT)) * price * 100
   AS HUGEINT)) * 10000 + count(*)) // (2 * count(*))) + 10000) // 20000) AS DECIMAL(38,0))
   / 100"""

_ADHOC_SQL = {
    "a_best_worst_demographics": f"""
    WITH agg AS (
      SELECT neighbourhood_lga, neighbourhood_lga_code,
             CAST({_AVG_REV} AS DECIMAL(10,2)) AS rev
      FROM fact WHERE has_availability = 't'
      GROUP BY neighbourhood_lga, neighbourhood_lga_code
    ), cte AS (
      SELECT * FROM agg
      QUALIFY row_number() OVER (ORDER BY rev DESC) = 1 OR row_number() OVER (ORDER BY rev) = 1
    )
    SELECT DISTINCT neighbourhood_lga, rev, median_age_persons, tot_p_p, indigenous_p_tot_p,
      CAST(100 * CAST(indigenous_p_tot_p AS DOUBLE) / CAST(tot_p_p AS DOUBLE) AS DECIMAL(10,2)),
      australian_citizen_p,
      CAST(100 * CAST(australian_citizen_p AS DOUBLE) / CAST(tot_p_p AS DOUBLE) AS DECIMAL(10,2)),
      a15 + a20 + a25,
      CAST(100 * CAST(a15 + a20 + a25 AS DOUBLE) / CAST(tot_p_p AS DOUBLE) AS DECIMAL(10,2)),
      a35 + a55,
      CAST(100 * CAST(a35 + a55 AS DOUBLE) / CAST(tot_p_p AS DOUBLE) AS DECIMAL(10,2)),
      a65 + a75,
      CAST(100 * CAST(a65 + a75 AS DOUBLE) / CAST(tot_p_p AS DOUBLE) AS DECIMAL(10,2)),
      a35 + a55 + a65 + a75,
      CAST(100 * CAST(a35 + a55 + a65 + a75 AS DOUBLE) / CAST(tot_p_p AS DOUBLE)
           AS DECIMAL(10,2))
    FROM cte LEFT JOIN dim_census dc ON cte.neighbourhood_lga_code = dc.lga_code
    """,
    "b_best_listing_type_top5": f"""
    WITH active AS (SELECT * FROM fact WHERE has_availability = 't'),
    top5 AS (
      SELECT neighbourhood_lga, CAST({_AVG_REV} AS DECIMAL(10,2)) AS rev
      FROM active GROUP BY neighbourhood_lga ORDER BY rev DESC LIMIT 5
    ), detail AS (
      SELECT neighbourhood_lga, property_type, room_type, accommodates,
             CAST(avg(30 - CAST(availability_30 AS BIGINT)) AS DECIMAL(10,0)) AS stays
      FROM active GROUP BY ALL
    )
    SELECT l2.neighbourhood_lga, property_type, room_type, accommodates, stays
    FROM top5 l1 LEFT JOIN detail l2 ON l1.neighbourhood_lga = l2.neighbourhood_lga
    QUALIFY rank() OVER (PARTITION BY l1.neighbourhood_lga ORDER BY stays DESC) = 1
    """,
    "c_same_neighbourhood": """
    WITH uniq AS (
      SELECT DISTINCT host_id, id,
        CASE WHEN neighbourhood_lga <> 'MISSING' AND host_lga <> 'MISSING'
                  AND neighbourhood_lga <> 'OTHER' AND host_lga <> 'OTHER'
             THEN CASE WHEN neighbourhood_lga = host_lga THEN 'TRUE'
                       WHEN neighbourhood_lga <> host_lga THEN 'FALSE' END
             ELSE 'NOT_SURE' END AS same
      FROM fact
    ), hl AS (
      SELECT DISTINCT host_id, same,
        count(id) OVER (PARTITION BY host_id, same) AS ct_same,
        count(id) OVER (PARTITION BY host_id) AS ct_total,
        CAST(100 * count(id) OVER (PARTITION BY host_id, same)
             / count(id) OVER (PARTITION BY host_id) AS DECIMAL(10,0)) AS pct
      FROM uniq
    ), hl2 AS (
      SELECT *, CASE WHEN pct = 100 THEN '100%' WHEN pct >= 50 AND pct < 100 THEN '50% - 99%'
                     WHEN pct < 50 THEN '<50%' END AS pr
      FROM hl WHERE ct_total > 1
    ), tot AS (SELECT count(DISTINCT host_id) AS n FROM hl2),
    s AS (
      SELECT pr, count(*) OVER (PARTITION BY pr) AS per_range,
             count(*) OVER (PARTITION BY same) AS same_total, tot.n AS n
      FROM hl2, tot WHERE same = 'TRUE'
    )
    SELECT DISTINCT pr, per_range, same_total,
      CAST(100 * per_range / same_total AS DECIMAL(10,2)), n,
      CAST(100 * per_range / n AS DECIMAL(10,2))
    FROM s
    """,
    "d_mortgage_coverage": """
    WITH per_host AS (
      SELECT host_id, neighbourhood_lga, neighbourhood_lga_code,
             sum((30 - CAST(availability_30 AS BIGINT)) * price) AS rev
      FROM fact WHERE CAST(host_listings_count AS BIGINT) = 1
      GROUP BY ALL
    ), cte AS (
      SELECT DISTINCT host_id, neighbourhood_lga, rev,
             median_mortgage_repay_monthly * 12 AS mort
      FROM per_host LEFT JOIN dim_census d ON per_host.neighbourhood_lga_code = d.lga_code
    ), c AS (
      SELECT count(*) AS n, count(CASE WHEN rev >= mort THEN 1 END) AS c_all,
             count(CASE WHEN rev >= mort * 0.5 THEN 1 END) AS c_half,
             count(CASE WHEN rev >= mort * 0.2 THEN 1 END) AS c_20,
             count(CASE WHEN rev < mort THEN 1 END) AS c_not
      FROM cte
    )
    SELECT n, c_all, c_half, c_20, c_not,
      CAST(100 * c_all / n AS DECIMAL(10,2)), CAST(100 * c_half / n AS DECIMAL(10,2)),
      CAST(100 * c_20 / n AS DECIMAL(10,2)), CAST(100 * c_not / n AS DECIMAL(10,2))
    FROM c
    """,
}


def expected_outputs(data_dir: str, holdback: str) -> dict:
    """DuckDB recomputation: fact row counts before and after the held-back
    month, and ad-hoc a-d over the refreshed (pre-append) fact table."""
    import duckdb

    con = duckdb.connect()
    try:
        _setup_oracle(con, data_dir)
        con.sql(f"CREATE TABLE fact AS {_fact_sql(data_dir, '*listings*.csv')}")
        out = {"fact_rows": con.sql("SELECT count(*) FROM fact").fetchone()[0]}
        new = con.sql(f"SELECT count(*) FROM ({_fact_sql(data_dir, holdback)})").fetchone()[0]
        out["fact_rows_after_append"] = out["fact_rows"] + new
        for name, sql in _ADHOC_SQL.items():
            out[name] = canon_rows(con.sql(sql).fetchall())
        return out
    finally:
        con.close()


# --------------------------------------------------------------- workload
LAYER_UNITS = {
    "plans.run_pipeline.s": "s", "plans.run_pipeline.jobs": "count",
    "plans.run_pipeline.tasks": "count", "plans.kpi.s": "s", "plans.kpi.jobs": "count",
    "plans.adhoc.s": "s", "plans.adhoc.jobs": "count", "plans.append_month.s": "s",
    "plans.append_month.jobs": "count", "plans.bytes_written": "bytes",
}

# One view per datamart plan: the kpi_view aggregate and the distinct-host
# FULL JOIN. kpi_neighbourhood_month_raw and kpi_property_month are left out
# for the run budget: they run the kpi_view plan again with other keys.
KPI_VIEWS = (
    "kpi_neighbourhood_month",
    "kpi_host_neighbourhood_month",
)


class EltRefresh:
    """One cycle: full refresh (run_pipeline with persisted layers, the KPI
    views, ad-hoc a-d), then append_month of the held-back month."""

    def __init__(self, h, work: str, seed: int, scale: dict):
        self.h, self.work, self.seed = h, work, seed
        self.months = scale["elt_months"]
        self.rows = scale["elt_rows_per_month"]
        self.cycle_no = 0
        self.expected: dict = {}
        self.refresh_s: list[float] = []
        self.incremental_s: list[float] = []
        self.bytes_written: list[int] = []
        self.corrupt = False  # self-test: spoil what the output checks read

    def make_inputs(self, dest: str) -> None:
        generate(dest, self.seed, self.months, self.rows)

    def prepare(self, spark) -> None:
        self.spark = spark
        self.data_dir = os.path.join(self.work, "inputs")
        year, month = _month(self.months)
        self.holdback = f"{month:02d}_{year}_holdback.csv"

    def expect(self) -> None:
        self.expected = expected_outputs(self.data_dir, self.holdback)

    def warm_up(self) -> None:
        """None: a refresh is a batch job in a fresh process, so the cold
        cycle, JIT and code generation included, is what its user waits for."""

    def cycle(self) -> float | None:
        """Returns the timed part: refresh plus incremental, without checks."""
        from airbnb_listings_data_pipelines_spark.plans import pipeline

        h, spark, exp = self.h, self.spark, self.expected
        self.cycle_no += 1
        persist = os.path.join(self.work, f"warehouse{self.cycle_no}")

        t0 = time.perf_counter()
        res = h.call("write", "plans.run_pipeline", pipeline.run_pipeline, spark,
                     self.data_dir, persist_dir=persist)
        refresh_op = h.last_op
        if res is None:
            return None
        self._kpis(res)
        got = {}
        adhoc = h.call("read", "plans.adhoc", pipeline.run_adhoc, res, record=False) or {}
        for name, df in adhoc.items():
            got[name] = (h.call("read", "plans.adhoc", df.collect), h.last_op)
        refresh = time.perf_counter() - t0

        # output checks stay outside the timed regions
        n = res.fact_listing.count()
        if self.corrupt:
            n += 1
            name, (rows, op) = next(iter(got.items()))
            got[name] = ((rows or [])[1:], op)
        if n != exp["fact_rows"]:
            fail(refresh_op, f"fact rows {n} != {exp['fact_rows']}")
        for name, (rows, op) in got.items():
            if rows is None or canon_rows([tuple(r) for r in rows]) != exp[name]:
                fail(op, f"ad-hoc {name} differs from the DuckDB recomputation")

        t1 = time.perf_counter()
        fact = h.call("write", "plans.append_month", pipeline.append_month, spark,
                      self.data_dir, persist, self.holdback)
        append_op = h.last_op
        incremental = time.perf_counter() - t1

        n = fact.count() + self.corrupt if fact is not None else None
        if n != exp["fact_rows_after_append"]:
            fail(append_op, f"fact rows after append {n} != {exp['fact_rows_after_append']}")
        self.refresh_s.append(refresh)
        self.incremental_s.append(incremental)
        self.bytes_written.append(dir_bytes(persist))
        shutil.rmtree(persist, ignore_errors=True)
        return refresh + incremental

    def _kpis(self, res) -> None:
        for v in KPI_VIEWS:
            # the cached_property builds the plan; both build and run are billed
            self.h.call("read", "plans.kpi", lambda v=v: getattr(res, v).write.format("noop")
                        .mode("overwrite").save())

    def layer_metrics(self) -> dict:
        h = self.h
        rp, kpi, adh, app = (h.fold(n) for n in
                             ("plans.run_pipeline", "plans.kpi", "plans.adhoc", "plans.append_month"))
        return {
            "plans.run_pipeline.s": rp["s"], "plans.run_pipeline.jobs": rp["jobs"],
            "plans.run_pipeline.tasks": rp["tasks"],
            "plans.kpi.s": kpi["s"], "plans.kpi.jobs": kpi["jobs"],
            "plans.adhoc.s": adh["s"], "plans.adhoc.jobs": adh["jobs"],
            "plans.append_month.s": app["s"], "plans.append_month.jobs": app["jobs"],
            "plans.bytes_written": max(self.bytes_written) if self.bytes_written else 0,
        }

    def check(self) -> None:
        """Outputs are checked inside each cycle, outside its timed parts."""

    def named_metrics(self, stats: dict) -> dict:
        return {"refresh_s": {"value": median(self.refresh_s), "unit": "s"},
                "incremental_s": {"value": median(self.incremental_s), "unit": "s"}}

    def report(self) -> dict:
        return {"fact_rows": self.expected.get("fact_rows"),
                "fact_rows_after_append": self.expected.get("fact_rows_after_append"),
                "months": self.months, "rows_per_month": self.rows,
                "refresh_runs_s": self.refresh_s, "incremental_runs_s": self.incremental_s}


