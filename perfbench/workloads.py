"""The workloads: request shapes, the untimed warm-up and output checks.

Every workload is driven closed-loop by one client: the next request
starts when the previous one has returned. A *pass* sends every
request shape once, in an order drawn from the seed.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import date, datetime

import duckdb

import datagen
from stats import median

# Table inputs are fixed (the seed only orders requests) so that two
# commits read identical bytes; ``TABLE_SCALE`` 0.1 is the shape of
# the repo's sf0.1 tier: 600k lineitem rows, 100k events, 5,000
# documents, 2,000 embeddings.
TABLE_SCALE = 0.1
TABLE_SEED = 42
TABLE_KEY = f"tables-sf{TABLE_SCALE}-seed{TABLE_SEED}-v2"


def checksum_frame(df):
    """A one-row frame XOR-folding xxhash64 over every output column.

    ``count()`` would let Catalyst prune columns a query exists to
    compute; hashing the row struct forces each one to be evaluated
    while collecting a single row. (The same fold as ``bench.drive``,
    copied so that edits there cannot change what is measured.)"""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"))


# ---------------------------------------------------------------------------
# result comparison (value-level, order-insensitive)


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def normalize(columns, rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def rows_match(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """``None`` when equal, else a one-line reason."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns differ: {sorted(s_cols)} vs {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} vs {len(d_rows)}"
    for a, b in zip(normalize(s_cols, s_rows), normalize(d_cols, d_rows)):
        if a != b:
            return f"first differing row {a} vs {b}"
    return None


class ChecksumStore:
    """Output checksums proven correct on the current inputs, kept in
    the checkout across runs.

    A checksum is recorded once the full output it hashes has matched
    the DuckDB twin; a later run whose output hashes the same needs no
    second collect. An entry with no twin records the first checksum
    seen, and every later run must reproduce it."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self.known: dict[str, list] = json.load(f)
        except (OSError, ValueError):
            self.known = {}

    def has(self, key: str, value) -> bool:
        return value in self.known.get(key, ())

    def add(self, key: str, value) -> None:
        self.known.setdefault(key, []).append(value)
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(self.known, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


# ---------------------------------------------------------------------------


@dataclass
class Outcome:
    """What the runner records for one workload run."""

    latencies: list[float] = field(default_factory=list)
    pass_walls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    checks: list[str] = field(default_factory=list)  # failed output checks
    extra: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def _error_line(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:300]


class Ctx:
    """Per-run state shared by the runner and the workload."""

    def __init__(self, *, spark, root, cache, work, rng, tracer):
        self.spark = spark
        self.root = root
        self.cache = cache
        self.work = work
        self.rng = rng
        self.tracer = tracer
        self.n_requests = 0

    def rid(self) -> str:
        self.n_requests += 1
        return f"r{self.n_requests:05d}"

    @contextlib.contextmanager
    def request(self, kind: str, shape: str, pass_no: int):
        if self.tracer is None:
            yield None
        else:
            with self.tracer.request(self.spark, self.rid(), kind, shape, pass_no) as req:
                yield req

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)


class QueryWorkload:
    """Requests are ``queries()`` entries: build the frame (the query
    function call), then drive it with the checksum action."""

    def __init__(self, name: str, shapes: tuple[str, ...], nominal_pass_s: float):
        self.name = name
        self.shapes = shapes
        self.nominal_pass_s = nominal_pass_s
        self.expected: dict[str, int] = {}
        self.timed: dict[str, int] = {s: 0 for s in shapes}

    def prepare(self, root: str, cache: str, seed: int) -> None:
        self.data_dir = datagen.write_tables(os.path.join(cache, TABLE_KEY), TABLE_SCALE, TABLE_SEED)

    # A shape's second run is still ~15% slower than its later ones
    # (curation entries, 4 cores), so the warm-up sends every shape twice.
    WARMUP_PASSES = 2

    def start(self, ctx: Ctx, out: Outcome) -> None:
        """The untimed warm-up: every shape ``WARMUP_PASSES`` times. The
        first checksum of a shape is the one every later request of
        that shape must repeat."""
        import __spark_entry__ as entry

        self.queries = entry.queries()
        for _ in range(self.WARMUP_PASSES):
            for shape in ctx.rng.sample(self.shapes, len(self.shapes)):
                try:
                    value = self._request(ctx, shape, -1)
                except Exception as exc:  # reported, and its requests fail
                    out.checks.append(f"{shape}: warm-up raised {_error_line(exc)}")
                    continue
                if self.expected.setdefault(shape, value) != value:
                    out.checks.append(f"{shape}: warm-up checksums differ")

    def before_pass(self, ctx: Ctx, out: Outcome) -> None:
        pass

    def run_pass(self, ctx: Ctx, pass_no: int, out: Outcome) -> None:
        for shape in ctx.rng.sample(self.shapes, len(self.shapes)):
            out.attempted += 1
            self.timed[shape] += 1
            t0 = time.perf_counter()
            try:
                value = self._request(ctx, shape, pass_no)
            except Exception as exc:
                value, error = None, _error_line(exc)
            else:
                error = None
            out.latencies.append(time.perf_counter() - t0)
            out.extra.setdefault("requests", []).append([shape, out.latencies[-1]])
            if error is None and value != self.expected.get(shape):
                error = f"checksum {value} != warm-up {self.expected.get(shape)}"
            if error is not None:
                out.fail(f"{shape}: {error}")

    def after_pass(self, ctx: Ctx, out: Outcome) -> None:
        pass

    def _request(self, ctx: Ctx, shape: str, pass_no: int):
        fn = self.queries[shape]
        if ctx.tracer is None or pass_no < 0:
            return checksum_frame(fn(ctx.spark, self.data_dir)).collect()[0][0]
        with ctx.request("query", shape, pass_no) as req:
            with ctx.span("plans.build", "plans") as sp:
                df = fn(ctx.spark, self.data_dir)
            req.build = (sp.start, sp.end)
            agg = checksum_frame(df)
            t0 = time.time()
            agg._jdf.queryExecution().executedPlan()  # Catalyst, traced run only
            req.catalyst_s = time.time() - t0
            with ctx.span("execute", "execute"):
                return agg.collect()[0][0]

    def finish(self, ctx: Ctx, out: Outcome) -> None:
        """Untimed output check of every shape (see ``ChecksumStore``).
        A wrong output fails every timed request of its shape."""
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        store = ChecksumStore(os.path.join(ctx.cache, "verified-checksums.json"))
        con = duckdb.connect()
        for t in datagen.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data_dir, t)}.parquet')")
        verified = 0
        for shape, value in self.expected.items():
            key = f"{self.name}/{shape}/{TABLE_KEY}"
            if store.has(key, value):
                continue
            if shape not in oracles:
                bad = f"checksum {value} differs from earlier runs {store.known[key]}" \
                    if key in store.known else None
            else:
                verified += 1
                try:
                    df = self.queries[shape](ctx.spark, self.data_dir)
                    rel = con.sql(oracles[shape])
                    bad = rows_match(df.columns, [tuple(r) for r in df.collect()],
                                     rel.columns, rel.fetchall())
                    if not bad and checksum_frame(df).collect()[0][0] != value:
                        bad = "checksum of the checked output differs from the timed one"
                except Exception as exc:
                    bad = f"output check raised {_error_line(exc)}"
            if bad:
                out.checks.append(f"{shape}: {bad}")
                for _ in range(self.timed[shape]):
                    out.fail(f"{shape}: wrong output")
            else:
                store.add(key, value)
        con.close()
        out.extra["outputs_verified_by_collect"] = verified


# ---------------------------------------------------------------------------
# the reference's own pipeline

VIOLENT = (
    "(primary_type = 'ROBBERY' AND description LIKE '%ARMED%') OR primary_type IN "
    "('ASSAULT','BATTERY','HOMICIDE','CRIMINAL SEXUAL ASSAULT')"
)
_TOP15 = f"""
    WITH v AS (SELECT * FROM processed WHERE {VIOLENT}),
    tr AS (SELECT community_area, count(*) AS tot_reports FROM v GROUP BY 1),
    ta AS (SELECT community_area, count(*) AS tot_arrests FROM v WHERE arrest GROUP BY 1)
    SELECT tr.community_area, tot_arrests, tot_reports
    FROM tr JOIN ta ON tr.community_area = ta.community_area
    ORDER BY tot_reports DESC, tr.community_area LIMIT 15"""
# DuckDB twins of the five ``sql/`` views over ``processed/``: (spark
# projection, DuckDB query) pairs compared as value sets.
VIEW_CHECKS = {
    "dependency1_violent_crimes": (
        "SELECT id, primary_type, description FROM dependency1_violent_crimes",
        f"SELECT id, primary_type, description FROM processed WHERE {VIOLENT}",
    ),
    "count_by_crime_type": (
        "SELECT crime_type, `count` FROM count_by_crime_type",
        "SELECT primary_type || ' - ' || description AS crime_type, count(*) AS count "
        "FROM processed GROUP BY 1",
    ),
    # arrest_pct is ROUND(x, 2) in Spark; DuckDB rounds doubles its own
    # way, so the twin checks the counts and the view checks its pct
    "arrest_pct_by_community_violent": (
        "SELECT community_area, tot_arrests, tot_reports, abs(arrest_pct - "
        "CAST(tot_arrests AS double) / tot_reports * 100) <= 0.005 + 1e-9 AS pct_ok "
        "FROM arrest_pct_by_community_violent",
        f"SELECT community_area, tot_arrests, tot_reports, true AS pct_ok FROM ({_TOP15})",
    ),
    "violent_by_community_enriched": (
        "SELECT community_area, community_name, side, population, tot_reports "
        "FROM violent_by_community_enriched",
        f"SELECT t.community_area, c.name AS community_name, c.side, c.population, "
        f"t.tot_reports FROM ({_TOP15}) t JOIN community_areas c "
        f"ON t.community_area = c.community_area",
    ),
    "fixed_dates_violent": (
        "SELECT id, day_of_week, day_of_week_num FROM fixed_dates_violent",
        "SELECT id, dayname(strptime(\"date\", '%m/%d/%Y %I:%M:%S %p')) AS day_of_week, "
        "CAST(isodow(strptime(\"date\", '%m/%d/%Y %I:%M:%S %p')) AS int) AS day_of_week_num "
        f"FROM processed WHERE {VIOLENT}",
    ),
}


def crime_schema():
    from pyspark.sql import types as T

    L, S, D, B = T.LongType(), T.StringType(), T.DoubleType(), T.BooleanType()
    cols = [
        ("id", L), ("case_number", S), ("date", S), ("block", S), ("iucr", S),
        ("primary_type", S), ("description", S), ("location_description", S),
        ("arrest", B), ("domestic", B), ("beat", L), ("district", L), ("ward", L),
        ("community_area", L), ("fbi_code", S), ("x_coordinate", D),
        ("y_coordinate", D), ("year", L), ("updated_on", S), ("latitude", D),
        ("longitude", D), ("location", S),
    ]
    return T.StructType([T.StructField(n, t) for n, t in cols])


def tree_stats(path: str) -> dict[str, int]:
    """file path -> size for every data file under ``path``. Hidden and
    ``_``-prefixed files and directories (checksums, ``_SUCCESS``, the
    file sink's ``_spark_metadata`` log) are not data."""
    out = {}
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class CrimeEtl:
    """Backfill a seeded crimes CSV through ``pipeline.run``, then land
    one daily increment per pass and query every view after it."""

    name = "crime_etl"
    BACKFILL_ROWS = 10_000
    INC_ROWS = 1_000
    MAX_INCREMENTS = 32

    def __init__(self, nominal_pass_s: float):
        self.nominal_pass_s = nominal_pass_s

    def prepare(self, root: str, cache: str, seed: int) -> None:
        d = os.path.join(cache, f"crimes-seed{seed}-b{self.BACKFILL_ROWS}-i{self.INC_ROWS}-v1")
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            os.makedirs(d, exist_ok=True)
            backfill, incs = datagen.crimes_csv_texts(
                root, seed, self.BACKFILL_ROWS, self.INC_ROWS, self.MAX_INCREMENTS)
            for name, text in [("backfill", backfill),
                               *((f"inc{k:03d}", t) for k, t in enumerate(incs))]:
                with open(os.path.join(d, f"{name}.csv"), "w") as f:
                    f.write(text)
            with open(os.path.join(d, "community_areas.csv"), "w") as f:
                f.write(datagen.community_areas_csv(root))
            open(os.path.join(d, "_SUCCESS"), "w").close()
        self.src = d
        self.csv_rows = {}
        for name in os.listdir(d):
            if name.endswith(".csv"):
                with open(os.path.join(d, name)) as f:
                    self.csv_rows[name] = sum(1 for _ in f) - 1  # minus the header

    def _land(self, name: str) -> None:
        src = os.path.join(self.src, f"{name}.csv")
        shutil.copy(src, os.path.join(self.cfg.landing_dir, f"{name}.csv"))
        self.rows_landed += self.csv_rows[f"{name}.csv"]
        self.bytes_landed += os.path.getsize(src)

    def start(self, ctx: Ctx, out: Outcome) -> None:
        from aws_de_final_project_spark import pipeline

        w = ctx.work
        for sub in ("input", "supporting"):
            os.makedirs(os.path.join(w, sub), exist_ok=True)
        shutil.copy(os.path.join(self.src, "community_areas.csv"),
                    os.path.join(w, "supporting", "community_areas.csv"))
        self.cfg = pipeline.PipelineConfig(
            landing_dir=os.path.join(w, "input"),
            processed_dir=os.path.join(w, "processed"),
            checkpoint_dir=os.path.join(w, "checkpoint"),
            state_path=os.path.join(w, "state", "hwm.json"),
            sql_dir=os.path.join(ctx.root, "sql"),
            schema=crime_schema(),
            supporting={"community_areas": os.path.join(w, "supporting")},
        )
        self.pipeline = pipeline
        self.rows_landed = self.bytes_landed = 0
        self.next_inc = 0
        self.view_latencies: list[float] = []
        self.increments: list[dict] = []
        self._land("backfill")
        t0 = time.perf_counter()
        self.views = sorted(pipeline.run(ctx.spark, self.cfg))
        out.extra["backfill_s"] = time.perf_counter() - t0
        # warm-up: one increment (the first restart of the stream from
        # its checkpoint is slower than later ones), then every view;
        # the row count check after each timed pass covers these rows
        self._land(f"inc{self.next_inc:03d}")
        self.next_inc += 1
        pipeline.run(ctx.spark, self.cfg)
        self._query_views(ctx, -1, out, timed=False)

    def _check_count(self, out: Outcome) -> bool:
        """``processed/`` holds exactly the rows landed so far."""
        con = duckdb.connect()
        n = con.execute("SELECT count(*) FROM read_parquet(?)",
                        [os.path.join(self.cfg.processed_dir, "**", "*.parquet")]).fetchone()[0]
        con.close()
        if n != self.rows_landed:
            out.checks.append(f"processed holds {n} rows, {self.rows_landed} landed")
            return False
        return True

    def before_pass(self, ctx: Ctx, out: Outcome) -> None:
        """Untimed: a day's file lands in the input directory."""
        if self.next_inc >= self.MAX_INCREMENTS:
            raise RuntimeError("ran out of generated increments")
        self.files_before = tree_stats(self.cfg.processed_dir)
        self._land(f"inc{self.next_inc:03d}")
        self.next_inc += 1

    def run_pass(self, ctx: Ctx, pass_no: int, out: Outcome) -> None:
        """One timed increment (``pipeline.run`` on the newly landed
        file), then one timed query of every view."""
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.request("increment", "pipeline.run", pass_no):
                self.pipeline.run(ctx.spark, self.cfg)
        except Exception as exc:
            self.inc_error = _error_line(exc)
        else:
            self.inc_error = None
        out.latencies.append(time.perf_counter() - t0)
        out.extra.setdefault("requests", []).append(["increment", out.latencies[-1]])
        self._query_views(ctx, pass_no, out, timed=True)

    def after_pass(self, ctx: Ctx, out: Outcome) -> None:
        """Untimed: the increment's row count and the files it wrote."""
        if self.inc_error is not None:
            out.fail(f"increment {self.next_inc - 1}: {self.inc_error}")
        elif not self._check_count(out):
            out.fail(f"increment {self.next_inc - 1}: row count check")
        new = {p: n for p, n in tree_stats(self.cfg.processed_dir).items()
               if p not in self.files_before}
        self.increments.append({
            "files_written": len(new),
            "bytes_written": sum(new.values()),
            "partitions_touched": len({os.path.dirname(p) for p in new}),
        })

    def _query_views(self, ctx: Ctx, pass_no: int, out: Outcome, timed: bool) -> None:
        for view in ctx.rng.sample(self.views, len(self.views)):
            t0 = time.perf_counter()
            try:
                with ctx.request("view", view, pass_no), ctx.span("execute", "execute"):
                    checksum_frame(ctx.spark.table(view)).collect()
            except Exception as exc:
                out.checks.append(f"view {view}: {_error_line(exc)}")
            if timed:
                self.view_latencies.append(time.perf_counter() - t0)
                out.extra.setdefault("requests", []).append([view, self.view_latencies[-1]])

    def finish(self, ctx: Ctx, out: Outcome) -> None:
        """Every view against its DuckDB twin over ``processed/``."""
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE processed AS SELECT * FROM read_parquet("
            f"'{self.cfg.processed_dir}/**/*.parquet', hive_partitioning=true)")
        con.execute(
            "CREATE TABLE community_areas AS SELECT * FROM read_csv_auto("
            f"'{self.cfg.supporting['community_areas']}/community_areas.csv')")
        def spark_rows(sql: str):
            df = ctx.spark.sql(sql)
            return df.columns, [tuple(r) for r in df.collect()]

        # untimed, so the five Spark reads run side by side
        with ThreadPoolExecutor(len(VIEW_CHECKS)) as pool:
            pending = {v: pool.submit(spark_rows, q) for v, (q, _) in VIEW_CHECKS.items()}
            for view, (_, duck_sql) in VIEW_CHECKS.items():
                try:
                    rel = con.sql(duck_sql)
                    bad = rows_match(*pending[view].result(), rel.columns, rel.fetchall())
                except Exception as exc:
                    bad = f"output check raised {_error_line(exc)}"
                if bad:
                    out.checks.append(f"view {view}: {bad}")
        con.close()
        processed = tree_stats(self.cfg.processed_dir)
        out.extra.update({
            "view_query_p50_s": median(self.view_latencies),
            "view_queries": len(self.view_latencies),
            "bytes_per_input_byte": sum(processed.values()) / self.bytes_landed,
            "processed_files": len(processed),
            "increments": self.increments,
        })


# The request mix of each workload. The lists are short because a run
# pays ~12 s of JVM start and an untimed warm-up (a cold first request
# of every shape) before it measures anything; llm_curation and
# crime_etl runs stay near one minute on 4 cores.
SQL_ANALYTICS = (
    "q1_pricing_summary", "return_pct_by_nation", "q5_local_supplier_volume",
    "window_rank_orders", "cohort_retention", "hourly_event_stats",
    "asof_click_attribution",
)
LLM_CURATION = (
    "dedup_component_groups_portable", "dedup_embedding_cosine_auto",
    "pagerank_host_graph",
)
EVENT_REPLAY = (
    "streaming_dedup_replay", "streaming_session_replay", "streaming_kmv_replay",
    "streaming_drift_replay", "streaming_chat_validation_replay",
)


def make(name: str):
    if name == "sql_analytics":
        return QueryWorkload(name, SQL_ANALYTICS, nominal_pass_s=6.5)
    if name == "llm_curation":
        return QueryWorkload(name, LLM_CURATION, nominal_pass_s=9.0)
    if name == "event_replay":
        return QueryWorkload(name, EVENT_REPLAY, nominal_pass_s=23.0)
    if name == "crime_etl":
        return CrimeEtl(nominal_pass_s=8.0)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("sql_analytics", "llm_curation", "crime_etl", "event_replay")
