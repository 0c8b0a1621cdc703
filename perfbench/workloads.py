"""The benchmark workloads.

Each workload generates its inputs from the seed (``setup_inputs``), makes
an untimed warm-up pass (``warm_up``), runs closed-loop passes
(``run_once``) whose outputs are kept and verified only after the timed loop
(``check``), and, in a traced run, breaks the work down by layer
(``trace_layers``). Outputs are checked against values the program cannot
redefine: DuckDB oracles for the corpus, and the generator's truth plus
``expect``'s independent values for the tracking warm-up pass, to which
every timed pass is tied by fingerprint.

- ``tracking_pipeline``: wide match frames -> ``load_kloppy_wide`` per match
  -> union -> ``write_tracking``, then ``read_tracking`` into pressing
  intensity, graph conversion and per-frame EFPI, each into a noop sink.
- ``corpus_graph``: five registered near-dup graph / corpus queries over a
  generated corpus. Job-bound iterative loops; no tracking code runs.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

import expect
import gen
import probes

FINGERPRINT_TYPE = "decimal(38,0)"
#: the steps of ``TrackingDataset.load_wide`` (default arguments), in order
OPERATOR_STEPS = ["melt_wide_tracking", "add_velocity", "add_acceleration",
                  "apply_speed_acceleration_filters", "finalize_kinematics",
                  "infer_ball_ownership", "convert_orientation_to_ball_owning", "dedup"]


def fingerprint(df) -> list:
    """Order-independent (row count, sum of row hashes) over sorted columns."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast(FINGERPRINT_TYPE)).alias("h")]


def observed(df, tag: str, invariants: dict | None = None):
    """``df`` with its fingerprint, and the named SQL aggregates in
    ``invariants``, collected as a side output of whatever action runs it
    (no extra job)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    extra = [F.expr(sql).alias(name) for name, sql in (invariants or {}).items()]
    obs = Observation(tag)
    return df.observe(obs, *fingerprint(df), *extra), obs


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def union_all(parts: list):
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, spark, work: str, seed: int, sizes: dict | None = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = {**type(self).sizes, **(sizes or {})}
        self.tracer = probes.Tracer(enabled=False)
        self.layers: dict[str, dict] = {}
        self.inputs: dict = {}
        self.expected: dict = {}
        self._n = 0

    # -- instrumentation -----------------------------------------------------

    @contextmanager
    def layer(self, name: str, profile: bool = False):
        """In a traced pass: span + job group (+ UDF profile) around a call
        into one layer, accumulated into ``self.layers[name]``."""
        if not self.tracer.enabled:
            yield
            return
        if profile:
            self.spark.profile.clear(type="perf")
        self._n += 1
        with self.tracer.span(name), probes.job_group(self.spark, f"{name}#{self._n}") as jobs:
            t0 = time.perf_counter()
            yield
            wall = time.perf_counter() - t0
        rec = self.layers.setdefault(name, {"s": 0.0, "jobs": 0, "stages": 0, "tasks": 0})
        rec["s"] += wall
        for k in ("jobs", "stages", "tasks"):
            rec[k] += jobs[k]
        if profile:
            rec["profile"] = probes.udf_profile(self.spark, FUNCTIONS_MODULES)

    def op(self, name: str, fn):
        """One attempted operation; an exception is kept as its outcome."""
        try:
            return name, fn()
        except Exception as exc:  # boundary: a failed op is counted, the run goes on
            traceback.print_exc()
            return name, exc

    # -- interface -----------------------------------------------------------

    def setup_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> list:
        return self.run_once()

    def run_once(self) -> list:
        raise NotImplementedError

    def check(self, outcomes: list) -> list[bool]:
        raise NotImplementedError

    def final_checks(self) -> list[bool]:
        return []

    def trace_layers(self, metrics: dict) -> None:
        pass


def _ok(outcome) -> bool:
    return not isinstance(outcome, Exception)


# ---------------------------------------------------------------------------


MODEL_CALLS = ["PressingIntensity.fit", "SoccerGraphConverter.to_graph_frames", "EFPI.fit_frame"]
#: the ``unravelsports_spark/functions`` module each model kernel calls into
FUNCTIONS_OF_CALL = {"PressingIntensity.fit": "intercept",
                     "SoccerGraphConverter.to_graph_frames": "graph_features_batch",
                     "EFPI.fit_frame": "assignment"}
FUNCTIONS_MODULES = set(FUNCTIONS_OF_CALL.values())
LITERAL_ORACLES = ["m_pi_cells", "m_graph_cells", "m_efpi_cells"]


def model_output(call: str, df):
    from unravelsports_spark.models.efpi import EFPI
    from unravelsports_spark.models.graph_converter import SoccerGraphConverter
    from unravelsports_spark.models.pressing_intensity import PressingIntensity
    from unravelsports_spark.settings import DefaultSettings, GraphSettings

    settings = DefaultSettings(home_team_id=gen.HOME, away_team_id=gen.AWAY)
    if call == "PressingIntensity.fit":
        return PressingIntensity(df, settings).fit(
            method="teams", ball_method="max", orient="home_away", speed_threshold=2).output
    if call == "SoccerGraphConverter.to_graph_frames":
        return SoccerGraphConverter(
            df, GraphSettings(home_team_id=gen.HOME, away_team_id=gen.AWAY)).to_graph_frames()
    return EFPI(df, settings).fit(every="frame").output


class TrackingPipeline(Workload):
    """Why: one user-facing tracking pipeline whose two halves stress
    different layers. The ingest half is relational, window and write work
    with no model kernel; the kernel half is grouped-map NumPy work behind
    about one exchange per call. The per-layer metrics separate the halves."""

    name = "tracking_pipeline"
    sizes = {"matches": 2, "frames": 300}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.inp = os.path.join(self.work, "wide")
        self.out = os.path.join(self.work, "canonical")
        self.paths: list[str] = []
        self.literal: dict = {}
        self._truth = None
        self._iter = 0

    def setup_inputs(self) -> None:
        m, f = self.sizes["matches"], self.sizes["frames"]
        self.paths = gen.write_wide(self.seed, self.inp, m, f)
        self.inputs = {"matches": m, "frames": m * f, "rows": m * f,
                       "bytes": gen.parquet_size(self.paths)}

    def wides(self) -> list:
        return [self.spark.read.parquet(p) for p in self.paths]

    def _settings(self):
        from unravelsports_spark.settings import DefaultSettings

        return DefaultSettings(home_team_id=gen.HOME, away_team_id=gen.AWAY)

    def ingest(self):
        """Each match through ``load_kloppy_wide`` (with roster positions) plus
        the label and graph-id columns the graph converter needs, then the
        union of all matches."""
        from unravelsports_spark.datasets.wide import load_kloppy_wide

        parts = []
        for i, w in enumerate(self.wides()):
            ds = load_kloppy_wide(w, self._settings(), game_id=f"game_{i}",
                                  position_of=gen.POSITION_OF.get)
            parts.append(ds.add_dummy_labels().add_graph_ids().data)
        return union_all(parts)

    def run_once(self, verify: bool = False) -> list:
        """Wide frames -> ``load_kloppy_wide`` per match -> union ->
        ``write_tracking``; then ``read_tracking`` of what was written into
        each model kernel, each writing to a noop sink. ``verify`` also
        observes the invariants of ``expect.INVARIANTS`` on each model
        output (the warm-up pass)."""
        from unravelsports_spark.sources.tracking_sink import read_tracking, write_tracking

        self._iter += 1
        path = os.path.join(self.out, f"it{self._iter}")

        def ingest():
            df, obs = observed(self.ingest(), f"ingest{self._iter}")
            write_tracking(df, path)
            return path, obs

        outcomes = [self.op("ingest", ingest)]
        if not _ok(outcomes[0][1]):
            return outcomes
        df = read_tracking(self.spark, path)
        for call in MODEL_CALLS:
            def kernel(call=call):
                with self.layer(f"models.{call}", profile=True):
                    out, obs = observed(model_output(call, df), call,
                                        expect.INVARIANTS[call] if verify else None)
                    noop(out)
                return obs
            outcomes.append(self.op(call, kernel))
        return outcomes

    def warm_up(self) -> list:
        """One pass that also observes the model invariants, and whose
        fingerprints become the expectations of the timed passes; then the
        registered kernel twins on their fixed fixture: their results are
        checked after the timed loop, and running them here also warms the
        three kernels a second time."""
        outcomes = self.run_once(verify=True)
        for name, out in outcomes[:1 + len(MODEL_CALLS)]:
            if _ok(out):
                obs = out[1] if name == "ingest" else out
                self.expected[name] = (obs.get["n"], obs.get["h"])
        self.literal = dict(self.op(q, lambda q=q: _query_rows(self.spark, q, self.work))
                            for q in LITERAL_ORACLES)
        return outcomes

    def truth(self):
        """The generator's expectation of the ingest output (built once)."""
        if self._truth is None:
            self._truth = gen.truth(self.seed, self.sizes["matches"], self.sizes["frames"])
        return self._truth

    def check(self, outcomes: list) -> list[bool]:
        """Ingest: the read-back must match the generator's truth and the
        fingerprint observed while writing. Models: the warm-up pass's
        invariants must match ``expect``'s values for its ingested table.
        Every pass's fingerprints must match the warm-up's, so a timed pass
        inherits the warm-up's checks unless the program is
        nondeterministic."""
        from unravelsports_spark.sources.tracking_sink import read_tracking

        res, canon, want = [], None, None
        for name, out in outcomes:
            errors = []
            try:
                if not _ok(out) or name not in self.expected:
                    errors.append(f"{name}: {out!r}")
                elif name == "ingest":
                    path, obs = out
                    canon, want = None, None
                    back_df = read_tracking(self.spark, path)
                    back = back_df.agg(*fingerprint(back_df)).first()
                    if not ((back["n"], back["h"]) == (obs.get["n"], obs.get["h"]) == self.expected[name]):
                        errors.append("ingest fingerprint differs between write, read-back and warm-up")
                    canon = back_df.toPandas()
                    errors += expect.canonical_errors(canon, self.truth())
                else:
                    got = out.get
                    if (got["n"], got["h"]) != self.expected[name]:
                        errors.append(f"{name}: fingerprint differs from the warm-up pass")
                    if "rows" in got:  # a pass that observed the invariants
                        want = want or expect.expected_invariants(canon)
                        errors += expect.invariant_errors(name, got, want[name])
            except Exception as exc:  # boundary: a check that cannot run is a failure
                errors.append(f"{name}: {exc!r}")
            for e in errors:
                print(f"check failed: {e}", file=sys.stderr)
            res.append(not errors)
        shutil.rmtree(self.out, ignore_errors=True)
        return res

    def final_checks(self) -> list[bool]:
        return oracle_checks(LITERAL_ORACLES, None, self.literal)

    def trace_layers(self, metrics: dict) -> None:
        from unravelsports_spark.operators.kinematics import (
            DEFAULT_BALL_SMOOTHING, DEFAULT_PLAYER_SMOOTHING, add_acceleration,
            add_velocity, apply_speed_acceleration_filters, finalize_kinematics)
        from unravelsports_spark.operators.melt import melt_wide_tracking
        from unravelsports_spark.operators.orientation import convert_orientation_to_ball_owning
        from unravelsports_spark.operators.possession import infer_ball_ownership
        from unravelsports_spark.schema import Column
        from unravelsports_spark.datasets.wide import discover_objects
        from unravelsports_spark.sources.tracking_sink import read_tracking, write_tracking

        spark = self.spark
        s = self._settings()
        steps = [
            None,  # melt_wide_tracking starts every prefix
            lambda d: add_velocity(d, DEFAULT_PLAYER_SMOOTHING, DEFAULT_BALL_SMOOTHING),
            add_acceleration,
            lambda d: apply_speed_acceleration_filters(
                d, max_ball_speed=s.max_ball_speed, max_player_speed=s.max_player_speed,
                max_ball_acceleration=s.max_ball_acceleration,
                max_player_acceleration=s.max_player_acceleration),
            finalize_kinematics,
            lambda d: infer_ball_ownership(d, s.ball_carrier_threshold),
            lambda d: convert_orientation_to_ball_owning(d, s.home_team_id),
            lambda d: d.dropDuplicates([Column.OBJECT_ID, Column.FRAME_ID, Column.PERIOD_ID]),
        ]

        def prefix(k: int):
            # one match: the step costs per match, at half the traced-run time
            w = self.wides()[0]
            objects = discover_objects(w, home_team_id=s.home_team_id, away_team_id=s.away_team_id,
                                       position_of=gen.POSITION_OF.get)
            d = melt_wide_tracking(w, objects, "game_0")
            for fn in steps[1:k + 1]:
                d = fn(d)
            return d

        prev_s, prev_x = 0.0, 0
        for k, name in enumerate(OPERATOR_STEPS):
            with self.tracer.span(f"operators.{name}.prefix"):
                d = prefix(k)
                x = probes.exchanges(d)
                t0 = time.perf_counter()
                noop(d)
                wall = time.perf_counter() - t0
            metrics[f"operators.{name}.self_s"] = wall - prev_s
            metrics[f"operators.{name}.exchanges"] = x - prev_x
            prev_s, prev_x = wall, x

        with self.tracer.span("datasets.load_kloppy_wide"), \
                probes.job_group(spark, "datasets.load_kloppy_wide") as jobs:
            d = self.ingest()
            x = probes.exchanges(d)
            t0 = time.perf_counter()
            noop(d)
            wall = time.perf_counter() - t0
        metrics["datasets.load_kloppy_wide.s"] = wall
        metrics["datasets.load_kloppy_wide.jobs"] = jobs["jobs"]
        metrics["datasets.load_kloppy_wide.exchanges"] = x

        cached = self.ingest().cache()
        cached.count()
        path = os.path.join(self.out, "traced")
        with self.tracer.span("sources.write_tracking"):
            t0 = time.perf_counter()
            write_tracking(cached, path)
            metrics["sources.write_tracking.s"] = time.perf_counter() - t0
        cached.unpersist()
        metrics["sources.write_tracking.bytes"], metrics["sources.write_tracking.files"] = dir_size(path)
        with self.tracer.span("sources.read_tracking"):
            t0 = time.perf_counter()
            noop(read_tracking(spark, path))
            metrics["sources.read_tracking.s"] = time.perf_counter() - t0
        shutil.rmtree(path, ignore_errors=True)




# ---------------------------------------------------------------------------

CORPUS_QUERIES = ["d_dup_clusters", "d_cluster_keep_best", "d_label_communities",
                  "d_pagerank", "t_full_pipeline_e2e"]
CORPUS_TABLES = ["documents", "embeddings"]


def _query_rows(spark, q: str, data_dir):
    """Run one registered query to completion, then release what it
    persisted (as bench.py does between queries)."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.plans import QUERIES

    df = QUERIES[q](spark, data_dir)
    rows = [tuple(r) for r in df.collect()]
    release_tracked()
    return df.columns, rows


class _Collected:
    """What ``compare_frames`` reads from a Spark frame, already collected."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class _Fetched:
    """What ``compare_frames`` reads from a DuckDB relation, already fetched."""

    def __init__(self, rel):
        self.description, self._rows = rel.description, rel.fetchall()

    def fetchall(self):
        return list(self._rows)


def _fetch(con, sql: str) -> _Fetched:
    cur = con.cursor()
    try:
        return _Fetched(cur.execute(sql))
    finally:
        cur.close()


def oracle_checks(queries, data_dir, results: dict) -> list[bool]:
    """Compare collected results with each query's ORACLE_SQL run in DuckDB
    (``results``: query -> list of (columns, rows) or an exception). The
    oracles run concurrently, one cursor each."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from tests.oracle_compare import compare_frames
    from unravelsports_spark.plans import ORACLE_SQL

    con = duckdb.connect()
    try:
        if data_dir is not None:
            for t in CORPUS_TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        with ThreadPoolExecutor(len(queries)) as pool:
            expected = dict(zip(queries, pool.map(
                lambda q: _fetch(con, ORACLE_SQL[q]), queries)))
        out = []
        for q in queries:
            runs = results[q] if isinstance(results[q], list) else [results[q]]
            for got in runs:
                if not _ok(got):
                    out.append(False)
                    continue
                ok, msg = compare_frames(_Collected(*got), expected[q])
                if not ok:
                    print(f"oracle mismatch {q}: {msg}", file=sys.stderr)
                out.append(ok)
        return out
    finally:
        con.close()


class CorpusGraph(Workload):
    """Why: job-bound iterative graph loops and shuffle-heavy corpus plans."""

    name = "corpus_graph"
    sizes = {"docs": 600, "vecs": 240}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.data = os.path.join(self.work, "corpus")

    def setup_inputs(self) -> None:
        from unravelsports_spark.session import read_table_cache_clear

        info = gen.write_corpus(self.seed, self.data, self.sizes["docs"], self.sizes["vecs"])
        read_table_cache_clear()  # the tables were just rewritten in place
        self.inputs = {"matches": 0, "frames": 0, **info}

    def run_once(self) -> list:
        outcomes = []
        for q in CORPUS_QUERIES:
            def go(q=q):
                with self.layer(f"plans.{q}"):
                    return _query_rows(self.spark, q, self.data)
            outcomes.append(self.op(q, go))
        return outcomes

    def check(self, outcomes: list) -> list[bool]:
        results = {q: [] for q in CORPUS_QUERIES}
        for q, got in outcomes:
            results[q].append(got)
        return oracle_checks(CORPUS_QUERIES, self.data, results)


WORKLOADS = {w.name: w for w in (TrackingPipeline, CorpusGraph)}
