"""``dashboard``: one user rendering the four PBIX report pages and
asking for similar jobs.

A cycle is five ops: the four page renders, then one top-k request
(``w_vector.Search``: ``similarity.lsh_topk`` and ``cosine_topk`` over
the job-embedding corpus). A page render builds and collects the
page's visuals concurrently, one ``pyspark.InheritableThread`` each (at
most 4), and ends when the last visual is collected. Each render
carries seeded (site, month) slicer values through ``filters=``. Every
visual calls ``operators.analytics`` and has a DuckDB twin over the
same parquet, compared after the timed loop.
"""

from __future__ import annotations

import time

from pyspark import InheritableThread
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.operators import analytics as A

from . import checks, gen
from .w_vector import Search

FACT, BRIDGE = "job_data", "jobskills"


def _where(site, month) -> str:
    conds = ([f"job_posted_site = '{site}'"] if site else []) + \
        ([f"job_posted_month = '{month}'"] if month else [])
    return ("WHERE " + " AND ".join(conds)) if conds else ""


def _f(site, month) -> str:
    return f"f AS (SELECT * FROM {FACT} {_where(site, month)})"


def _cnt():
    return F.count(F.lit(1))


# (name, spark builder(fact, bridge, filters), DuckDB SQL(site, month)).
# Visuals are spread over the pages so that every page costs about the
# same: page renders then form one latency mode and the median op is
# well defined.

def _overview():
    return [
        ("kpi_cards",
         lambda f, b, flt: A.kpi_cards(f, {
             "jobs": _cnt(), "companies": F.countDistinct("company_name"),
             "avg_salary": F.round(F.avg("salary"), 2),
             "max_salary": F.max("salary")}, filters=flt),
         lambda s, m: f"""SELECT count(*) AS jobs,
             count(DISTINCT company_name) AS companies,
             round(avg(salary), 2) AS avg_salary, max(salary) AS max_salary
             FROM {FACT} {_where(s, m)}"""),
        ("distinct_cities",
         lambda f, b, flt: A.distinct_count(f, "city", filters=flt),
         lambda s, m: f"""SELECT count(DISTINCT city) AS n_distinct
             FROM {FACT} {_where(s, m)}"""),
        ("salary_cards",
         lambda f, b, flt: A.kpi_cards(f, {
             "min_salary": F.min("salary"), "max_salary": F.max("salary"),
             "avg_salary": F.round(F.avg("salary"), 2)}, filters=flt),
         lambda s, m: f"""SELECT min(salary) AS min_salary,
             max(salary) AS max_salary, round(avg(salary), 2) AS avg_salary
             FROM {FACT} {_where(s, m)}"""),
        ("jobs_per_day",
         lambda f, b, flt: A.ratio_per_day(f, "job_posted_date",
                                           filters=flt),
         lambda s, m: f"""SELECT round(count(*) / count(DISTINCT
             CAST(job_posted_date AS DATE)), 4) AS per_day
             FROM {FACT} {_where(s, m)}"""),
    ]


def _trends():
    return [
        ("jobs_by_month",
         lambda f, b, flt: A.count_by_dim(f, "job_posted_month",
                                          filters=flt),
         lambda s, m: f"""SELECT job_posted_month, count(*) AS cnt
             FROM {FACT} {_where(s, m)} GROUP BY 1"""),
        ("month_over_month",
         lambda f, b, flt: A.lag_delta(
             A.count_by_dim(f, "job_posted_month", filters=flt),
             "job_posted_month", "cnt"),
         lambda s, m: f"""WITH c AS (SELECT job_posted_month, count(*) AS
             cnt FROM {FACT} {_where(s, m)} GROUP BY 1)
             SELECT job_posted_month, cnt, cnt - lag(cnt) OVER
             (ORDER BY job_posted_month) AS delta FROM c"""),
        ("site_share",
         lambda f, b, flt: A.pct_of_total(f, "job_posted_site",
                                          filters=flt),
         lambda s, m: f"""WITH c AS (SELECT job_posted_site, count(*) AS
             cnt FROM {FACT} {_where(s, m)} GROUP BY 1)
             SELECT job_posted_site, cnt,
             round(cnt * 100.0 / sum(cnt) OVER (), 4) AS pct FROM c"""),
        ("top_bridge_skills",
         lambda f, b, flt: A.top_n_by_agg(
             A.bridge_join((f.filter(_and(flt)) if flt else f)
                           .select("job_id"), b, "job_id"),
             "technical_skills", _cnt(), 10),
         lambda s, m: f"""WITH {_f(s, m)} SELECT js.technical_skills,
             count(*) AS cnt FROM f JOIN {BRIDGE} js USING (job_id)
             GROUP BY 1 ORDER BY cnt DESC, js.technical_skills LIMIT 10"""),
    ]


def _skills():
    return [
        ("top_skills",
         lambda f, b, flt: A.exploded_counts(
             f.filter(_and(flt)) if flt else f, ["job_id"],
             "technical_skills", token_alias="skill", n=10),
         lambda s, m: f"""WITH t AS (SELECT lower(trim(tok)) AS skill FROM
             (SELECT unnest(string_split_regex(technical_skills, ',\\s*'))
              AS tok FROM {FACT} {_where(s, m)}) WHERE trim(tok) <> '')
             SELECT skill, count(*) AS cnt FROM t GROUP BY 1
             ORDER BY cnt DESC, skill LIMIT 10"""),
        ("jobs_by_type",
         lambda f, b, flt: A.count_by_dim(f, "job_type", filters=flt),
         lambda s, m: f"""SELECT job_type, count(*) AS cnt
             FROM {FACT} {_where(s, m)} GROUP BY 1"""),
        ("top10_company_types",
         lambda f, b, flt: A.count_by_dim(
             A.topn_semijoin(f, "company_name", _cnt(), 10, filters=flt),
             "job_type"),
         lambda s, m: f"""WITH {_f(s, m)}, top AS (SELECT company_name
             FROM f GROUP BY 1 ORDER BY count(*) DESC, company_name
             LIMIT 10) SELECT job_type, count(*) AS cnt FROM f
             WHERE company_name IN (SELECT company_name FROM top)
             GROUP BY 1"""),
        ("jobs_with_salary",
         lambda f, b, flt: A.count_nonnull(f, "salary", filters=flt),
         lambda s, m: f"""SELECT count(salary) AS n
             FROM {FACT} {_where(s, m)}"""),
    ]


def _salary():
    return [
        ("top_paying_cities",
         lambda f, b, flt: A.topn_by_rank(
             f, "city", F.round(F.avg("salary"), 2), 10,
             agg_alias="avg_salary", filters=flt),
         lambda s, m: f"""SELECT city, avg_salary FROM (SELECT city,
             avg_salary, row_number() OVER (ORDER BY avg_salary DESC
             NULLS LAST, city) AS rk FROM (SELECT city,
             round(avg(salary), 2) AS avg_salary FROM {FACT}
             {_where(s, m)} GROUP BY 1)) WHERE rk <= 10"""),
        ("salary_percentiles",
         lambda f, b, flt: A.group_percentiles(
             f, "job_type", "salary", [0.25, 0.5, 0.75], filters=flt),
         lambda s, m: f"""SELECT job_type,
             round(quantile_cont(salary, 0.25), 2) AS p25,
             round(quantile_cont(salary, 0.5), 2) AS p50,
             round(quantile_cont(salary, 0.75), 2) AS p75
             FROM {FACT} {_where(s, m)} GROUP BY 1"""),
        ("highest_paid",
         lambda f, b, flt: A.top_n_rows(
             f, [F.desc("salary"), F.asc("job_id")], 10, filters=flt)
         .select("job_id", "company_name", "salary"),
         lambda s, m: f"""SELECT job_id, company_name, salary FROM {FACT}
             {_where(s, m)} ORDER BY salary DESC NULLS LAST, job_id
             LIMIT 10"""),
        ("jobs_this_month",
         lambda f, b, flt: A.time_scoped_count(f, "job_posted_date",
                                               filters=flt),
         lambda s, m: f"""WITH {_f(s, m)} SELECT count(*) AS n FROM f
             WHERE date_trunc('month', job_posted_date) =
               (SELECT date_trunc('month', max(job_posted_date)) FROM f)"""),
    ]

def _and(flt):
    out = flt[0]
    for c in flt[1:]:
        out = out & c
    return out


PAGES = [("overview", _overview()), ("trends", _trends()),
         ("skills", _skills()), ("salary", _salary())]


class Dashboard:
    name = "dashboard"
    # whole cycles (four pages, then one top-k request), so every run
    # has the same op mix
    min_ops = op_cycle = len(PAGES) + 1

    def __init__(self) -> None:
        self.search = Search()

    def generate(self, seed: int, run) -> dict:
        self.seed = seed
        self.dir = run.sub("inputs", "dashboard")
        sizes = gen.dashboard_warehouse(seed, self.dir)
        self.fact_rows = sizes["job_data_rows"]
        return {**sizes, "pages": len(PAGES), "visuals_per_page": 4,
                **self.search.generate(seed, run)}

    def setup(self, spark, run, tr) -> dict:
        st = self._open(spark, tr)
        # opening the report renders every page once (no slicers) and
        # answers one request, so the timed ops do not pay first-query
        # code generation
        for _, visuals in PAGES:
            self._render(st, visuals, [], tr)
        st["search"] = self.search.setup(spark, tr)
        return st

    def _open(self, spark, tr) -> dict:
        with tr.span("sources.open"):
            fact = spark.read.parquet(f"{self.dir}/{FACT}.parquet")
            bridge = spark.read.parquet(f"{self.dir}/{BRIDGE}.parquet")
        return {"fact": fact, "bridge": bridge, "renders": {}}

    def _render_no(self, i: int) -> int | None:
        """Op ``i``'s page-render number, None for a top-k request."""
        c, j = divmod(i, self.op_cycle)
        return None if j == len(PAGES) else c * len(PAGES) + j

    def op(self, spark, st, i: int, tr) -> int:
        r = self._render_no(i)
        if r is None:
            return self.search.op(spark, st["search"], tr)
        site, month = gen.slicer(self.seed, r)
        page, visuals = PAGES[r % len(PAGES)]
        flt = ([F.col("job_posted_site") == site] if site else []) + \
            ([F.col("job_posted_month") == month] if month else [])
        st["renders"][i] = (page, site, month,
                            self._render(st, visuals, flt, tr))
        # every visual reads the whole fact table (one file, slicers
        # filter after the scan): the page covers all of its rows
        return self.fact_rows

    @staticmethod
    def _render(st, visuals, flt, tr) -> list:
        """Build and collect the page's visuals concurrently; returns
        (columns, rows) or the exception, per visual."""
        out: list = [None] * len(visuals)

        def render(j: int) -> None:
            name, build, _ = visuals[j]
            try:
                with tr.span(f"analytics.{name}"):
                    with tr.span("analytics.build"):
                        df = build(st["fact"], st["bridge"], flt or None)
                    with tr.span("analytics.execute"):
                        rows = df.collect()
                out[j] = (df.columns, [tuple(r) for r in rows])
            except Exception as e:  # recorded; the op counts as failed
                out[j] = e

        threads = [InheritableThread(target=render, args=(j,))
                   for j in range(len(visuals))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return out

    def rows_returned(self, st, i: int) -> int:
        """Rows the visuals of a page render returned (0 for a top-k
        request: its results feed ``similarity.*`` instead)."""
        if i not in st["renders"]:
            return 0
        return sum(len(v[1]) for v in st["renders"][i][3]
                   if not isinstance(v, Exception))

    def aux(self, spark, st, tr) -> list[float]:
        """Dataset refresh, eight times: re-open both tables (listing
        and footers) and count the fact rows. In the traced run, first
        the graph pass."""
        if tr.enabled:
            self.search.graph_pass(spark, st["search"], tr)
        out = []
        for _ in range(8):
            t0 = time.perf_counter()
            with tr.span("sources.refresh"):
                self._open(spark, tr)["fact"].count()
            out.append((time.perf_counter() - t0) * 1000.0)
        return out

    def counters(self, st) -> dict:
        return self.search.counters(st["search"])

    def check(self, spark, st) -> tuple[list[bool], bool]:
        """Each visual of each render against its DuckDB twin; each
        top-k request (the set-up's too) and the graph pass against
        their NumPy replays."""
        import duckdb

        con = duckdb.connect()
        for t in (FACT, BRIDGE):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.dir}/{t}.parquet')")
        memo: dict = {}
        page_ok = {}
        for i, (page, site, month, out) in st["renders"].items():
            visuals = dict(PAGES)[page]
            good = True
            for (name, _, sql), got in zip(visuals, out):
                if isinstance(got, Exception) or got is None:
                    good = False
                    continue
                key = (name, site, month)
                if key not in memo:
                    memo[key] = checks.duck_rows(con, sql(site, month))
                want = memo[key]
                good &= checks.same_table(got[0], got[1], *want)
            page_ok[i] = good
        con.close()
        search_ok, search_aux_ok = self.search.check(st["search"])
        n = len(page_ok) + len(search_ok)
        ok = [page_ok.get(i, False) if self._render_no(i) is not None
              else checks.at(search_ok, i // self.op_cycle)
              for i in range(n)]
        return ok, search_aux_ok
