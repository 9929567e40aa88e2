"""The benchmark's workloads, driven through feathr_spark's public API.

Each workload synthesizes its inputs with ``feathr_spark.datagen`` from
the run's seed, then repeats one operation. An operation's output is
checked outside the timers by ``check`` (cheap invariants observed
inside the operation's own Spark job) and by ``verify`` (a brute-force
oracle on a fixed sample, computed once after the timed loop and
compared against every operation's sample).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from feathr_spark import (
    Anchor,
    DerivedFeature,
    FeathrClient,
    Feature,
    FeatureQuery,
    ObservationSettings,
    Source,
    SWAFeature,
    WindowSpec,
    asof_fetch,
    join_window_agg_features,
    release_caches,
)
from feathr_spark import datagen
from feathr_spark.materialize import BackfillTime, GenSpec, load_materialized, materialize

DAY = 86_400
WEEK = 7 * DAY

# The SWA battery of the flagship job (bench.py::corpus_feature_vectors).
BATTERY = [
    SWAFeature("tok_sum_1d", "SUM", "n_tok", WindowSpec(DAY)),
    SWAFeature("seq_cnt_1d", "COUNT", "n_tok", WindowSpec(DAY)),
    SWAFeature("tok_avg_7d", "AVG", "n_tok", WindowSpec(WEEK)),
    SWAFeature("tok_max_7d", "MAX", "n_tok", WindowSpec(WEEK)),
    SWAFeature("src_cnt_7d", "COUNT_DISTINCT", "source", WindowSpec(WEEK)),
    SWAFeature("web_cnt_1d", "COUNT", "n_tok", WindowSpec(DAY), filter="source = 'web'"),
]
BATTERY_NAMES = [f.name for f in BATTERY]


def sizes(sf: float) -> tuple[int, int, int]:
    """(fact rows, observation rows, distinct doc ids) at a scale factor,
    as ``datagen.corpus`` sizes them: sf0.1 is 600k facts, 150k obs."""
    n_fact = max(int(6_000_000 * sf / 100) * 100, 1000)
    return n_fact, max(n_fact // 4, 500), max(n_fact // 50, 20)


def _sample_obs(obs, hot_keys: list[str], n_docs: int, seed: int,
                per_kind: int = 8) -> dict[int, tuple]:
    """A fixed sample of observations, ``{obs_id: (doc_id, ts)}`` as the
    input holds them: rows on hot keys, null keys, keys with no fact
    rows, and ordinary keys, ``per_kind`` of each, chosen by a seeded
    hash so the same seed picks the same rows."""
    doc_num = F.regexp_extract("doc_id", r"doc_(\d+)", 1).cast("long")
    kind = (F.when(F.col("doc_id").isNull(), "null")
            .when(F.col("doc_id").isin(hot_keys), "hot")
            .when(doc_num >= n_docs, "missing")
            .otherwise("plain"))
    rows = (obs.select("obs_id", "doc_id", "ts", kind.alias("kind"),
                       F.xxhash64("obs_id", F.lit(seed)).alias("h"))
            .withColumn("r", F.row_number().over(Window.partitionBy("kind").orderBy("h")))
            .where(F.col("r") <= per_kind).collect())
    return {r.obs_id: (r.doc_id, r.ts) for r in rows}


def _check_sample(got: list[dict], sample: dict[int, tuple]) -> list[str]:
    """The sampled output rows are exactly the sampled observations, each
    with the key and timestamp of its input row."""
    if sorted(r["obs_id"] for r in got) != sorted(sample):
        return ["sampled observations missing or duplicated"]
    return [f"obs {r['obs_id']}: key/ts {(r['doc_id'], r['ts'])} != input {sample[r['obs_id']]}"
            for r in got if (r["doc_id"], r["ts"]) != sample[r["obs_id"]]]


def _window_rows(fact, key, ts, width):
    """Fact rows of ``key`` inside the window ``(ts - width, ts]``."""
    return fact[(fact.doc_id == key) & (fact.event_ts > ts - width) & (fact.event_ts <= ts)]


def _battery_oracle(fact, key, ts) -> dict:
    """The six battery features for one observation, by brute force over
    a pandas frame of fact rows. An observation whose window holds no
    rows gets null, and so does a filtered COUNT whose filter passes no
    row of the window."""
    out = {}
    d1 = _window_rows(fact, key, ts, DAY) if key is not None else fact.iloc[0:0]
    d7 = _window_rows(fact, key, ts, WEEK) if key is not None else fact.iloc[0:0]
    out["tok_sum_1d"] = float(d1.n_tok.sum()) if len(d1) else None
    out["seq_cnt_1d"] = int(len(d1)) if len(d1) else None
    out["tok_avg_7d"] = float(d7.n_tok.mean()) if len(d7) else None
    out["tok_max_7d"] = float(d7.n_tok.max()) if len(d7) else None
    out["src_cnt_7d"] = int(d7.source.nunique()) if len(d7) else None
    out["web_cnt_1d"] = int((d1.source == "web").sum()) or None
    out["__d7"] = d7
    return out


def _same(got, want) -> bool:
    if want is None or got is None:
        return got is None and want is None
    if isinstance(want, float) or isinstance(got, float):
        return math.isclose(float(got), float(want), rel_tol=1e-9, abs_tol=1e-9)
    return got == want


class Workload:
    """One workload: ``setup`` once, then ``run`` repeatedly."""

    name = ""
    sf = 0.1
    warmup = 1  # untimed operations before the first timed one
    timed = 2   # timed operations; more only if --seconds has not passed

    def __init__(self, spark, seed: int, work_dir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.tr = tracer
        self.n_fact, self.n_obs, self.n_docs = sizes(self.sf)

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, i: int) -> dict:
        """One operation; returns what ``check`` and ``verify`` need."""
        raise NotImplementedError

    def after(self, res: dict) -> None:
        """Untimed work after an operation: gather what ``check`` needs
        from its output. Outputs stay until the run's scratch directory
        is removed, so no deletion overlaps a later timed operation."""

    def check(self, res: dict) -> list[str]:
        """Invariant failures of one operation's output."""
        return []

    def verify(self, results: list[dict]) -> list[list[str]]:
        """Oracle failures of each operation's sampled rows."""
        return [[] for _ in results]

    def layers(self, i: int, res: dict) -> dict:
        """Per-layer metrics of traced operation ``i`` with result ``res``."""
        return {}

    def teardown(self) -> None:
        self.spark.catalog.clearCache()


class PitZipf(Workload):
    """SWA battery plus as-of token fetch on a zipf-skewed corpus."""

    name = "pit_zipf"
    sf = 0.02
    warmup = 3
    n_hot = 5
    # datagen's default is 512; synthesizing 512-token arrays alone would
    # take most of the run's time budget
    max_tokens = 128

    def setup(self):
        s = self.spark
        fact = datagen.sequences(s, self.n_fact, self.n_docs, self.seed, skew=3.0,
                                 max_tokens=self.max_tokens)
        # entity-hash-partitioned fact cache, as in bench.py: the as-of
        # join-back then reuses this partitioning
        self.fact = fact.repartition(s.sparkContext.defaultParallelism * 4, "doc_id").cache()
        self.obs = datagen.observations(s, self.n_obs, self.n_docs, self.seed, skew=3.0).cache()
        # the hot-key count and the sample pick scan, and so fill, both caches
        hot = (self.fact.groupBy("doc_id").count()
               .orderBy(F.desc("count"), "doc_id").limit(self.n_hot).collect())
        self.hot_keys = [r.doc_id for r in hot]
        self.hot_df = s.createDataFrame([(k,) for k in self.hot_keys], "doc_id string")
        self.sample = _sample_obs(self.obs, self.hot_keys, self.n_docs, self.seed)
        self.features = BATTERY + [SWAFeature("last_ts", "LATEST", "event_ts", WindowSpec(WEEK))]

    def run(self, i):
        with self.tr.span("swa", spark=True):
            vec = join_window_agg_features(
                self.obs, self.fact, ["doc_id"], ["doc_id"], "ts", "event_ts", self.features,
                obs_ts_format="epoch", fact_ts_format="epoch", strategy="cogroup",
                hot_keys_df=self.hot_df, salt_buckets=16, prefilter_time_range=False,
            ).persist()
            vec.count()
        with self.tr.span("asof", spark=True):
            out = asof_fetch(vec, self.fact, ["doc_id"], ["doc_id"], "last_ts", "event_ts",
                             ["tokens as last_tokens", "n_tok as last_n_tok"])
            seen = Observation(f"pit_zipf_{i}")
            cols = ["obs_id", "doc_id", "ts", *BATTERY_NAMES, "last_ts", "last_tokens", "last_n_tok"]
            out = out.observe(
                seen,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(F.col("last_ts") > F.col("ts"), 1).otherwise(0)).alias("leaks"),
                F.count("last_ts").alias("matched"),
                F.collect_list(F.when(F.col("obs_id").isin(list(self.sample)),
                                      F.struct(*cols))).alias("sample"),
            )
            out.write.format("noop").mode("overwrite").save()
            got = seen.get
        vec.unpersist()
        release_caches()
        return {"rows": int(got["rows"]), "leaks": int(got["leaks"] or 0),
                "matched": int(got["matched"]),
                "sample": [r.asDict() for r in got["sample"]]}

    def check(self, res):
        bad = []
        if res["rows"] != self.n_obs:
            bad.append(f"rows {res['rows']} != observations {self.n_obs}")
        if res["leaks"]:
            bad.append(f"{res['leaks']} rows with last_ts > ts")
        return bad + _check_sample(res["sample"], self.sample)

    def verify(self, results):
        keys = sorted({k for k, _ in self.sample.values() if k is not None})
        fact = (self.fact.where(F.col("doc_id").isin(keys))
                .select("doc_id", "event_ts", "n_tok", "source").toPandas())
        want, fetch = {}, set()
        for obs_id, (key, ts) in self.sample.items():
            w = _battery_oracle(fact, key, ts)
            d7 = w.pop("__d7")
            w["last_ts"] = int(d7.event_ts.max()) if len(d7) else None
            want[obs_id] = w
            if w["last_ts"] is not None:
                fetch.add((key, w["last_ts"]))
        # the fetched row: any fact row of the key at exactly last_ts
        tokens: dict = {}
        if fetch:
            pairs = self.spark.createDataFrame(sorted(fetch), "doc_id string, event_ts long")
            for row in self.fact.join(pairs, ["doc_id", "event_ts"]).select(
                    "doc_id", "event_ts", "tokens", "n_tok").collect():
                tokens.setdefault((row.doc_id, row.event_ts), []).append(
                    (list(row.tokens), row.n_tok))
        out = []
        for res in results:
            bad = []
            # a row outside the sample is already a failed check
            for r in (r for r in res["sample"] if r["obs_id"] in want):
                w = want[r["obs_id"]]
                for k, v in w.items():
                    if not _same(r[k], v):
                        bad.append(f"obs {r['obs_id']}: {k} {r[k]!r} != oracle {v!r}")
                fetched = (r["last_tokens"], r["last_n_tok"])
                if w["last_ts"] is None:
                    if fetched != (None, None):
                        bad.append(f"obs {r['obs_id']}: tokens fetched without a match")
                elif fetched not in tokens.get((self.sample[r["obs_id"]][0], w["last_ts"]), []):
                    bad.append(f"obs {r['obs_id']}: fetched tokens match no fact row at last_ts")
            out.append(bad)
        return out

    def layers(self, i, res):
        swa, asof, op = (self.tr.of(n, i) for n in ("swa", "asof", "op"))
        return {
            "swa.wall_s": swa.wall_s,
            "swa.shuffle_bytes": swa.spark["shuffle_bytes"],
            "kernels.py_bytes_in": op.spark["py_bytes_in"],
            "kernels.py_bytes_out": op.spark["py_bytes_out"],
            "kernels.py_run_s": op.spark["py_run_s"],
            "kernels.py_init_s": op.spark["py_init_s"],
            "kernels.task_skew": op.spark["py_task_skew"],
            "asof.fetch_s": asof.wall_s,
            "asof.shuffle_bytes": asof.spark["shuffle_bytes"],
            "asof.task_skew": asof.spark["task_skew"],
            "asof.match_frac": res["matched"] / res["rows"],
        }


class ClientBackfill(Workload):
    """The default user paths, all inside the JVM: FeathrClient's offline
    join on parquet paths (planner: SWA auto -> union engine, union
    as-of) written to parquet, then a backfill materialization into a
    fresh parquet sink, read back and resumed. Uniform keys, no tokens."""

    name = "client_backfill"
    sf = 0.01
    warmup = 3
    n_cutoffs = 6

    def setup(self):
        s, seed = self.spark, self.seed
        self.paths = {k: os.path.join(self.work, k) for k in ("fact", "obs")}
        (datagen.sequences(s, self.n_fact, self.n_docs, seed, skew=1.0).drop("tokens")
         .write.mode("overwrite").parquet(self.paths["fact"]))
        (datagen.observations(s, self.n_obs, self.n_docs, seed, skew=1.0)
         .write.mode("overwrite").parquet(self.paths["obs"]))
        # the backfill's input; the warm-up operation fills the cache
        self.fact = s.read.parquet(self.paths["fact"]).cache()

        self.client = FeathrClient(s, online_store_dir=os.path.join(self.work, "online"))
        fact_src = Source(self.paths["fact"], timestamp_col="event_ts")
        # frame aggregates only: COUNT_DISTINCT would steer the planner
        # to the Arrow kernel
        swa = [f for f in BATTERY if f.agg != "COUNT_DISTINCT"]
        self.client.build_features(
            anchor_list=[
                Anchor("events", fact_src, ["doc_id"], swa),
                # the same table read as a time-stamped snapshot: the
                # latest row at or before each observation (as-of join)
                Anchor("snapshot", fact_src, ["doc_id"],
                       [Feature("snap_ntok", "n_tok"), Feature("snap_at", "event_ts")]),
            ],
            derived_feature_list=[
                DerivedFeature("tok_per_seq_1d", "tok_sum_1d / greatest(seq_cnt_1d, 1)",
                               inputs=("tok_sum_1d", "seq_cnt_1d")),
            ],
        )
        self.swa_names = [f.name for f in swa]
        self.query = FeatureQuery(self.swa_names + ["snap_ntok", "snap_at", "tok_per_seq_1d"])
        self.settings = ObservationSettings(keys=["doc_id"], timestamp_col="ts")
        self.sample = _sample_obs(s.read.parquet(self.paths["obs"]), [], self.n_docs, seed)

        self.spec = GenSpec(keys=["doc_id"], key_names=["doc_id"], ts_col="event_ts",
                            features=BATTERY)
        first = datagen.T0 + WEEK
        self.backfill = BackfillTime(first, first + (self.n_cutoffs - 1) * DAY, DAY)
        self.oracle_cutoff = self.backfill.cutoffs()[self.n_cutoffs // 2]

    def run(self, i):
        out_path = os.path.join(self.work, f"out-{i}")
        sink = os.path.join(self.work, f"sink-{i}")
        with self.tr.span("planner", spark=True):
            out = self.client.get_offline_features(self.paths["obs"], self.query, self.settings)
        with self.tr.span("client.write", spark=True):
            seen = Observation(f"client_backfill_{i}")
            cols = ["obs_id", "doc_id", "ts", *self.swa_names, "snap_ntok", "snap_at",
                    "tok_per_seq_1d"]
            out.observe(
                seen,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(F.col("snap_at") > F.col("ts"), 1).otherwise(0)).alias("leaks"),
                F.collect_list(F.when(F.col("obs_id").isin(list(self.sample)),
                                      F.struct(*cols))).alias("sample"),
            ).write.mode("overwrite").parquet(out_path)
            got = seen.get
        with self.tr.span("materialize"):
            report = materialize(self.fact, self.spec, sink, self.backfill)
        with self.tr.span("readback"):
            df = load_materialized(self.spark, sink)
            hashed = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                      for c in sorted(df.columns) if c != "cutoff"]
            sums = df.groupBy("cutoff").agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.xxhash64(*hashed).cast("decimal(38,0)")).alias("checksum")).collect()
        with self.tr.span("resume"):
            again = materialize(self.fact, self.spec, sink, self.backfill)
        return {"out_path": out_path, "sink": sink,
                "join_rows": int(got["rows"]), "leaks": int(got["leaks"] or 0),
                "sample": [r.asDict() for r in got["sample"]],
                "report": report, "again": again,
                "readback": {int(r.cutoff): (int(r.rows), int(r.checksum) % (1 << 64))
                             for r in sums}}

    def after(self, res):
        sink = res["sink"]
        res["manifests"] = {}
        for c in self.backfill.cutoffs():
            with open(os.path.join(sink, f"cutoff={c}", "_manifest.json")) as fh:
                res["manifests"][c] = json.load(fh)
        res["sink_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                for d, _, fs in os.walk(sink) for f in fs)
        res["oracle_part"] = self.spark.read.parquet(
            os.path.join(sink, f"cutoff={self.oracle_cutoff}")).toPandas()
        res["mat_rows"] = sum(m["rows"] for m in res["manifests"].values())
        # output rows of the operation: joined observations plus
        # materialized entity snapshots
        res["rows"] = res["join_rows"] + res["mat_rows"]

    def check(self, res):
        bad = []
        if res["join_rows"] != self.n_obs:
            bad.append(f"joined rows {res['join_rows']} != observations {self.n_obs}")
        if res["leaks"]:
            bad.append(f"{res['leaks']} rows with snap_at > ts")
        bad += _check_sample(res["sample"], self.sample)
        cutoffs = self.backfill.cutoffs()
        if sorted(res["report"]["written"]) != cutoffs:
            bad.append("materialize did not write every cutoff")
        if res["again"]["written"] or sorted(res["again"]["skipped"]) != cutoffs:
            bad.append("resume on a committed sink rewrote partitions")
        for c in cutoffs:
            m = res["manifests"][c]
            got = res["readback"].get(c)
            if got != (m["rows"], m["checksum"]):
                bad.append(f"cutoff {c}: readback {got} != manifest "
                           f"({m['rows']}, {m['checksum']})")
        return bad

    def verify(self, results):
        join_bad = self._verify_join(results)
        mat_bad = self._verify_cutoff(results)
        return [a + b for a, b in zip(join_bad, mat_bad)]

    def _verify_join(self, results):
        """Brute-force pandas oracle for the sampled joined observations."""
        keys = sorted({k for k, _ in self.sample.values() if k is not None})
        fact = self.fact.where(F.col("doc_id").isin(keys)).toPandas()
        want = {}
        for obs_id, (key, ts) in self.sample.items():
            w = _battery_oracle(fact, key, ts)
            w.pop("__d7")
            w.pop("src_cnt_7d")
            w["tok_per_seq_1d"] = (None if w["tok_sum_1d"] is None
                                   else w["tok_sum_1d"] / max(w["seq_cnt_1d"], 1))
            hist = fact[(fact.doc_id == key) & (fact.event_ts <= ts)]
            if key is None or not len(hist):
                w["__snap"] = [(None, None)]
            else:
                last = hist[hist.event_ts == hist.event_ts.max()]
                w["__snap"] = [(int(n), int(t)) for n, t in zip(last.n_tok, last.event_ts)]
            want[obs_id] = w
        out = []
        for res in results:
            bad = []
            # a row outside the sample is already a failed check
            for r in (r for r in res["sample"] if r["obs_id"] in want):
                w = want[r["obs_id"]]
                for k, v in w.items():
                    if k != "__snap" and not _same(r[k], v):
                        bad.append(f"obs {r['obs_id']}: {k} {r[k]!r} != oracle {v!r}")
                if (r["snap_ntok"], r["snap_at"]) not in w["__snap"]:
                    bad.append(f"obs {r['obs_id']}: snapshot {(r['snap_ntok'], r['snap_at'])}"
                               f" matches no latest snapshot row {w['__snap']}")
            out.append(bad)
        return out

    def _verify_cutoff(self, results):
        """A plain groupBy over the fact for one cutoff, compared with
        that cutoff's partition of every operation's sink."""
        c = self.oracle_cutoff
        ts, n = F.col("event_ts"), F.col("n_tok")
        in1 = (ts > c - DAY) & (ts <= c)
        in7 = (ts > c - WEEK) & (ts <= c)
        want = (self.fact.where(in7 & F.col("doc_id").isNotNull()).groupBy("doc_id").agg(
            F.sum(F.when(in1, n)).alias("tok_sum_1d"),
            F.sum(F.when(in1 & n.isNotNull(), 1)).alias("seq_cnt_1d"),
            F.avg(n).alias("tok_avg_7d"),
            F.max(n).alias("tok_max_7d"),
            F.countDistinct("source").alias("src_cnt_7d"),
            F.sum(F.when(in1 & (F.col("source") == "web"), 1)).alias("web_cnt_1d"),
        ).toPandas().set_index("doc_id").sort_index())
        out = []
        for res in results:
            got = res["oracle_part"].set_index("doc_id").sort_index()
            bad = []
            if list(got.index) != list(want.index):
                bad.append(f"cutoff {c}: {len(got)} entities != oracle {len(want)}")
            else:
                for col in BATTERY_NAMES:
                    for k, g, w in zip(want.index, got[col], want[col]):
                        g = None if g is None or g != g else g
                        w = None if w is None or w != w else w
                        if not _same(g, w):
                            bad.append(f"cutoff {c} {k}: {col} {g!r} != oracle {w!r}")
                            break
            out.append(bad)
        return out

    def layers(self, i, res):
        plan, write, mat, rb, rs = (self.tr.of(n, i) for n in (
            "planner", "client.write", "materialize", "readback", "resume"))
        op = self.tr.of("op", i)
        durations = sorted(m["duration_s"] for m in res["manifests"].values())
        return {
            "planner.plan_s": plan.wall_s,
            "client.write_s": write.wall_s,
            "client.shuffle_bytes": plan.spark["shuffle_bytes"] + write.spark["shuffle_bytes"],
            "materialize.wall_s": mat.wall_s,
            "materialize.cutoff_p50_s": durations[len(durations) // 2],
            "materialize.cutoff_max_s": durations[-1],
            "materialize.partitions": len(durations),
            "materialize.rows": res["mat_rows"],
            "sources.readback_s": rb.wall_s,
            "sources.sink_bytes": res["sink_bytes"],
            "materialize.resume_s": rs.wall_s,
            "kernels.py_bytes_in": op.spark["py_bytes_in"],
            "kernels.py_bytes_out": op.spark["py_bytes_out"],
            "kernels.py_run_s": op.spark["py_run_s"],
        }


WORKLOADS = {w.name: w for w in (PitZipf, ClientBackfill)}
