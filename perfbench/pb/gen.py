"""Seeded input generators for the four workloads.

Every generator is a pure function of ``(seed, ...)``: the same seed
writes byte-identical files, a different seed writes different ones.
The engine only ever sees the files written here.
"""

from __future__ import annotations

import csv
import io
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one stream salt per workload so workloads never share random draws
_SALT = {"dashboard": 11, "etl": 23, "vectors": 37, "index": 53}

# ------------------------------------------------------------ vocabulary
SITES = ["indeed", "linkedin", "glassdoor", "zip recruiter", "monster"]
SITE_P = [0.55, 0.2, 0.12, 0.08, 0.05]
CITIES = [
    ("new york", "ny"), ("san francisco", "ca"), ("seattle", "wa"),
    ("austin", "tx"), ("boston", "ma"), ("chicago", "il"),
    ("denver", "co"), ("atlanta", "ga"), ("dallas", "tx"),
    ("los angeles", "ca"), ("miami", "fl"), ("phoenix", "az"),
    ("portland", "or"), ("raleigh", "nc"), ("san diego", "ca"),
    ("san jose", "ca"), ("houston", "tx"), ("philadelphia", "pa"),
    ("minneapolis", "mn"), ("detroit", "mi"), ("remote", ""),
]
TITLES = [
    "data engineer", "data analyst", "data scientist",
    "machine learning engineer", "analytics engineer", "bi developer",
    "software engineer", "database administrator", "etl developer",
    "business analyst", "research scientist", "platform engineer",
    "cloud engineer", "mlops engineer", "data architect",
]
TITLE_NOISE = [
    "", " ii", " iii", " - remote", " (contract)", " | hybrid",
    " [onsite]", " / nyc", " - senior", " #1234",
]
SENIORITY = ["", "senior ", "sr. ", "lead ", "junior ", "principal "]
JOB_TYPES_CLEAN = ["Full-Time", "Contract", "Part-Time", "Internship",
                   "Not specified"]
JOB_TYPES_RAW = ["Full-time", "full time", "Contractor", "", "Part-time",
                 "part time, intern", "Temporary", "freelance", "FT"]
SKILLS = [
    "python", "sql", "spark", "aws", "azure", "tableau", "power bi",
    "excel", "airflow", "kafka", "docker", "kubernetes", "scala", "java",
    "r", "snowflake", "databricks", "dbt", "git", "linux", "pandas",
    "numpy", "tensorflow", "pytorch", "hadoop", "gcp", "looker", "sas",
    "go", "terraform", "mongodb", "postgresql", "redshift", "bigquery",
    "flink", "hive", "jira", "c++", "javascript", "typescript",
]
SOFT = ["communication", "teamwork", "leadership", "problem solving",
        "time management", "adaptability"]
_ADJ = ["acme", "blue", "bright", "global", "north", "prime", "rapid",
        "silver", "smart", "true", "urban", "vital", "zen", "apex",
        "delta", "echo", "nova", "omni", "quantum", "stellar"]
_NOUN = ["analytics", "bank", "cloud", "data", "foods", "health",
         "labs", "logistics", "media", "motors", "retail", "robotics",
         "systems", "telecom", "ventures"]
COMPANIES = [f"{a} {n}" for a in _ADJ for n in _NOUN]  # 300 names


def _rng(seed: int, kind: str, *sub: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _SALT[kind], *sub])


def _zipf_p(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _write_parquet(table: pa.Table, path: str) -> None:
    # one row group, fixed compression: byte-identical for equal data
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(table.num_rows, 1))


# -------------------------------------------------------------- dashboard
DASH_ROWS = 60_000
MONTHS = [f"2024-{m:02d}" for m in range(1, 13)]


def dashboard_warehouse(seed: int, out_dir: str,
                        n_rows: int = DASH_ROWS) -> dict:
    """The curated ``job_data`` fact table plus its exploded
    ``jobskills`` bridge (the PBIX model), written as parquet."""
    r = _rng(seed, "dashboard")
    os.makedirs(out_dir, exist_ok=True)
    ids = r.permutation(n_rows).astype(np.int64) * 7919 + 1_000_003
    comp = r.choice(len(COMPANIES), n_rows, p=_zipf_p(len(COMPANIES)))
    title = r.choice(len(TITLES), n_rows, p=_zipf_p(len(TITLES), 0.8))
    city = r.choice(len(CITIES), n_rows, p=_zipf_p(len(CITIES), 0.9))
    site = r.choice(len(SITES), n_rows, p=SITE_P)
    jtype = r.choice(len(JOB_TYPES_CLEAN), n_rows,
                     p=[0.6, 0.15, 0.1, 0.05, 0.1])
    salary = (r.lognormal(11.6, 0.35, n_rows)).astype(np.int64)
    salary = np.clip(salary, 20_000, 400_000)
    sal_null = r.random(n_rows) < 0.12
    day = r.integers(0, 366, n_rows)
    secs = r.integers(9 * 3600, 23 * 3600, n_rows)
    # each row draws an 8-skill candidate list; its first n_sk distinct
    # entries (sorted) are the row's skills
    n_sk = r.integers(0, 8, n_rows)
    cand = r.choice(len(SKILLS), (n_rows, 8), p=_zipf_p(len(SKILLS), 1.0))
    posted = (np.datetime64("2024-01-01T00:00:00", "us")
              + day.astype("timedelta64[D]") + secs.astype("timedelta64[s]"))
    month = np.datetime_as_string(posted.astype("datetime64[M]"))
    skills, bridge = [], ([], [], [])
    for i in range(n_rows):
        names = [SKILLS[t] for t in sorted(set(cand[i, :n_sk[i]].tolist()))]
        skills.append(", ".join(names) if names else "not listed")
        for s in names:
            bridge[0].append(int(ids[i]))
            bridge[1].append(TITLES[title[i]].title())
            bridge[2].append(s)
    cities = [CITIES[c] for c in city]
    fact = pa.table({
        "job_id": pa.array(ids, pa.int64()),
        "company_name": [COMPANIES[c] for c in comp],
        "job_title": [TITLES[t] for t in title],
        "cleaned_job_title": [TITLES[t].title() for t in title],
        "job_type": [JOB_TYPES_CLEAN[t] for t in jtype],
        "job_location": [f"{c}, {s}" if s else c for c, s in cities],
        "city": [c for c, _ in cities],
        "country": ["united states"] * n_rows,
        "salary": pa.array(np.where(sal_null, 0, salary).astype(np.int32),
                           mask=sal_null),
        "job_posted_date": pa.array(posted, pa.timestamp("us")),
        "job_posted_month": pa.array(month, pa.string()),
        "job_posted_year": pa.array([2024] * n_rows, pa.int32()),
        "job_posted_site": [SITES[s] for s in site],
        "technical_skills": skills,
        "soft_skills": ["communication, teamwork"] * n_rows,
        "source": ["kaggle"] * n_rows,
    })
    js = pa.table({
        "job_id": pa.array(bridge[0], pa.int64()),
        "job_title": bridge[1],
        "technical_skills": bridge[2],
    })
    _write_parquet(fact, f"{out_dir}/job_data.parquet")
    _write_parquet(js, f"{out_dir}/jobskills.parquet")
    return {"job_data_rows": fact.num_rows, "jobskills_rows": js.num_rows}


def slicer(seed: int, op: int) -> tuple[str | None, str | None]:
    """(site, month) slicer values of page render ``op``; None is the
    slicer's 'All' state. Which slicers are set (none, site, month,
    both) follows the op number, so every cycle of four page renders
    has each combination once; the values are seeded."""
    r = _rng(seed, "dashboard", 1, op)
    s, m = int(r.integers(len(SITES))), int(r.integers(len(MONTHS)))
    kind = (op + op // 4) % 4
    return (SITES[s] if kind in (1, 3) else None,
            MONTHS[m] if kind in (2, 3) else None)


# -------------------------------------------------------- etl_incremental
# two raw feeds with the reference's two extract schemas; each day's drop
# comes from one feed. Column order is the file's header order.
FEEDS = {
    "kaggle": ["company", "title", "schedule_type", "location", "country",
               "salary", "posted_at", "via", "skills", "soft", "seq"],
    "linkedin": ["employer", "job_name", "employment", "place", "nation",
                 "pay", "date_posted", "platform", "tech_stack",
                 "people_skills", "origin", "seq"],
}
# feed column -> canonical FINAL_COLS name (absent -> '' fallback)
COLMAPS = {
    "kaggle": {"company_name": "company", "job_title": "title",
               "job_type": "schedule_type", "job_location": "location",
               "country": "country", "salary": "salary",
               "job_posted_date": "posted_at", "job_posted_site": "via",
               "technical_skills": "skills", "soft_skills": "soft",
               "source": "origin", "_seq": "seq"},
    "linkedin": {"company_name": "employer", "job_title": "job_name",
                 "job_type": "employment", "job_location": "place",
                 "country": "nation", "salary": "pay",
                 "job_posted_date": "date_posted",
                 "job_posted_site": "platform",
                 "technical_skills": "tech_stack",
                 "soft_skills": "people_skills", "source": "origin",
                 "_seq": "seq"},
}
SMALL_DAY = (1_000, 1_600)   # the reference's daily volume
LARGE_DAY = (12_000, 13_000)  # ~10x: separates per-row from per-trigger cost
LARGE_EVERY = 5  # four small days, then a large one


# the backfill drops the pipeline's set-up loads, one per feed
WARMUP_DAYS = (9_998, 9_999)


def day_plan(seed: int, day: int) -> tuple[str, int]:
    """(feed, rows) of day ``day``: every fifth day is a large drop,
    feeds alternate, sizes jitter within their band."""
    r = _rng(seed, "etl", day, 0)
    large = day % LARGE_EVERY == LARGE_EVERY - 1 and day not in WARMUP_DAYS
    lo, hi = LARGE_DAY if large else SMALL_DAY
    return ("kaggle" if day % 2 == 0 else "linkedin",
            int(r.integers(lo, hi + 1)))


def _dirty_salary(r: np.random.Generator) -> str:
    u = r.random()
    v = int(r.lognormal(11.6, 0.4))
    if u < 0.35:
        return f"${v:,}"
    if u < 0.6:
        return str(v)
    if u < 0.7:
        return f"{r.uniform(18, 95):.2f}"  # hourly -> annualized
    if u < 0.78:
        return r.choice(["N/A", "", "competitive", "DOE"])
    if u < 0.84:
        return f"${int(r.integers(401_000, 2_000_000)):,}"  # above band
    if u < 0.9:
        return str(int(r.integers(1_500, 19_000)))  # below band
    return f"{v}.00"


def etl_day_rows(seed: int, day: int) -> tuple[str, list[list[str]]]:
    """The raw rows of day ``day`` for its feed, in that feed's column
    order, with the reference's dirt: salary strings, noisy titles,
    mixed job types, empty skills and in-day duplicates."""
    feed, n = day_plan(seed, day)
    r = _rng(seed, "etl", day, 1)
    base = datetime(2024, 1, 1) + timedelta(days=day)
    rows: list[list[str]] = []
    n_unique = int(n * 0.93)
    for i in range(n_unique):
        city, st = CITIES[int(r.integers(len(CITIES)))]
        title = (SENIORITY[int(r.integers(len(SENIORITY)))]
                 + TITLES[int(r.integers(len(TITLES)))]
                 + TITLE_NOISE[int(r.integers(len(TITLE_NOISE)))])
        k = int(r.integers(0, 7))
        sk = [SKILLS[int(j)] for j in r.choice(len(SKILLS), k)]
        skills = "" if k == 0 else ", ".join(
            s.upper() if r.random() < 0.2 else s for s in sk)
        if k and r.random() < 0.15:
            skills += " ,,"
        ts = base + timedelta(seconds=int(r.integers(0, 86_400)))
        posted = ("not a date" if r.random() < 0.03
                  else ts.strftime("%Y-%m-%d %H:%M:%S"))
        rec = {
            "company": COMPANIES[int(r.integers(len(COMPANIES)))]
            if r.random() > 0.04 else "",
            "title": title.title() if r.random() < 0.5 else title,
            "type": JOB_TYPES_RAW[int(r.integers(len(JOB_TYPES_RAW)))],
            "loc": f"{city}, {st}" if st else city,
            "country": "" if r.random() < 0.1 else "United States",
            "salary": _dirty_salary(r),
            "posted": posted,
            "site": SITES[int(r.choice(len(SITES), p=SITE_P))].title(),
            "skills": skills,
            "soft": ", ".join(SOFT[int(j)] for j in
                              r.choice(len(SOFT), int(r.integers(0, 3)))),
        }
        rows.append(_feed_row(feed, rec, len(rows)))
    # in-day duplicates: same dedup key after normalization (case and
    # whitespace variants), later sequence number, sometimes new salary
    for _ in range(n - n_unique):
        src = list(rows[int(r.integers(n_unique))])
        names = FEEDS[feed]
        ci, ti = names.index(COLMAPS[feed]["company_name"]), \
            names.index(COLMAPS[feed]["job_title"])
        src[ci] = "  " + src[ci].upper() if r.random() < 0.5 else src[ci]
        src[ti] = src[ti].lower() + " "
        if r.random() < 0.5:
            src[names.index(COLMAPS[feed]["salary"])] = _dirty_salary(r)
        src[-1] = str(len(rows))
        rows.append(src)
    return feed, rows


def _feed_row(feed: str, rec: dict, seq: int) -> list[str]:
    if feed == "kaggle":
        return [rec["company"], rec["title"], rec["type"], rec["loc"],
                rec["country"], rec["salary"], rec["posted"], rec["site"],
                rec["skills"], rec["soft"], str(seq)]
    return [rec["company"], rec["title"], rec["type"], rec["loc"],
            rec["country"], rec["salary"], rec["posted"], rec["site"],
            rec["skills"], rec["soft"], "linkedin", str(seq)]


def write_etl_day(seed: int, day: int, out_dir: str) -> tuple[str, str, int]:
    """Write day ``day``'s raw CSV into ``out_dir``; returns
    (feed, file path, rows)."""
    feed, rows = etl_day_rows(seed, day)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(FEEDS[feed])
    w.writerows(rows)
    os.makedirs(out_dir, exist_ok=True)
    path = f"{out_dir}/day_{day:04d}_{feed}.csv"
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(buf.getvalue())
    return feed, path, len(rows)


# ------------------------------------------------------------- vectors
DIM = 64


def clustered_vectors(r: np.random.Generator, n: int, centers: np.ndarray,
                      spread: float = 0.45) -> np.ndarray:
    lab = r.integers(0, len(centers), n)
    x = centers[lab] + spread * r.normal(size=(n, centers.shape[1]))
    # 6-digit values: engine and oracles round at 6 digits anyway
    return np.round(x, 6)


def _vec_table(ids: np.ndarray, x: np.ndarray) -> pa.Table:
    flat = pa.array(x.reshape(-1), pa.float64())
    emb = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(
        pa.list_(pa.float64()))
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb})


VEC_QUERIES = 12


def query_ids(seed: int, op: int, n_corpus: int,
              q: int = VEC_QUERIES) -> list[int]:
    """The corpus ids that form request ``op``'s query batch."""
    r = _rng(seed, "vectors", op)
    return sorted(int(i) for i in r.choice(n_corpus, q, replace=False))


INDEX_BASE = 1_000
INDEX_BATCH = 200


def index_inputs(seed: int, out_dir: str, n_batches: int,
                 base: int = INDEX_BASE, batch: int = INDEX_BATCH) -> dict:
    """Base corpus plus ``n_batches`` same-distribution arrival batches
    and one drifted batch (every dimension +2.0), one parquet file
    each. Arrival ids continue after the base ids."""
    r = _rng(seed, "index")
    centers = r.normal(size=(24, DIM))
    os.makedirs(out_dir, exist_ok=True)
    _write_parquet(_vec_table(np.arange(base),
                              clustered_vectors(r, base, centers)),
                   f"{out_dir}/base.parquet")
    nxt = base
    for b in range(n_batches):
        x = clustered_vectors(r, batch, centers)
        _write_parquet(_vec_table(np.arange(nxt, nxt + batch), x),
                       f"{out_dir}/batch_{b:04d}.parquet")
        nxt += batch
    x = np.round(clustered_vectors(r, batch, centers) + 2.0, 6)
    _write_parquet(_vec_table(np.arange(nxt, nxt + batch), x),
                   f"{out_dir}/drift.parquet")
    return {"base_vectors": base, "batch_vectors": batch,
            "arrival_batches": n_batches, "drift_vectors": batch}
