"""The three workloads: seeded inputs, an independent DuckDB oracle over
the same files, and the operations of one pass.

Every call into the package goes through ``state["m"][<module>]``, a
proxy that records a span named after the module when tracing is on.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import shutil
import sys
import numpy as np

PKG = "aim357_2019_etl_and_ml_workshop_spark"


def _modules(spans, names):
    import layers

    return {n: layers.ModuleProxy(importlib.import_module(f"{PKG}.{n}"), n, spans)
            for n in names}


def _file_digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            rel = os.path.relpath(p, root)
            if rel == "inputs.json":
                continue
            with open(p, "rb") as f:
                out[rel] = hashlib.sha256(f.read()).hexdigest()
    return dict(sorted(out.items()))


def prepare_inputs(wl, seed: int, area: str) -> dict:
    """Inputs for (workload, size parameters, seed), generated once and
    cached. A cached set is re-hashed and must match the digests it was
    made with."""
    cache = os.path.join(area, "inputs", f"{wl.name}-{wl.params()}-seed{seed}")
    meta_path = os.path.join(cache, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if _file_digests(cache) == meta["digests"]:
            meta["dir"] = cache
            return meta
        shutil.rmtree(cache)
    tmp = cache + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    stdout, sys.stdout = sys.stdout, sys.stderr  # the generator prints
    try:
        files = wl.generate(tmp, seed)
    finally:
        sys.stdout = stdout
    meta = {"files": files, "oracle": wl.oracle(tmp, files),
            "digests": _file_digests(tmp)}
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(meta, f)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    os.rename(tmp, cache)
    meta["dir"] = cache
    return meta


def _duck():
    import duckdb

    return duckdb.connect()


def _expect(what: str, got, want) -> None:
    if got != want:
        raise AssertionError(f"{what}: got {got!r}, expected {want!r}")


class Workload:
    """A workload: seeded inputs, their oracle, and one pass of operations.
    end_pass runs after the timed pass. ``nominal_pass_s`` only sets how
    many passes fit in ``--seconds``; it is a constant so that the pass
    indices are the same on every commit."""

    def params(self) -> str:
        """The input-size parameters, part of the input cache key."""
        return "-".join(f"{k}{v}" for k, v in sorted(vars(self).items()))

    def end_pass(self, p, st):
        pass


# -- taxi_nightly ------------------------------------------------------------

TAXI_SPECS = {
    "yellow": ("vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime"),
    "green": ("vendorid", "lpep_pickup_datetime", "lpep_dropoff_datetime"),
    "fhv": (None, "pickup_datetime", "dropoff_datetime"),
}
TAXI_RATE = {"yellow": 3, "green": 1, "fhv": 2}
WINDOW = ("2018-01-01", "2019-07-01")
HOLDOUT_DAYS = 55  # after the cutoff: forecast test split, the nightly batch
RETENTION = "2018-02-01"  # the features table's retention delete


class TaxiNightly(Workload):
    """Raw CSVs in three schema generations -> canonical partitioned
    parquet + catalog -> SQL exploration -> daily spine/pivot/gap-fill ->
    quantile forecast -> alert; the daily features then land in a
    ManifestTable (history, nightly exactly-once append, replay, retention
    delete, change feed)."""

    name = "taxi_nightly"
    nominal_pass_s = 6.5

    def __init__(self, size: str):
        self.size = size
        self.days, self.per_day = {"bench": (540, 100), "tiny": (120, 12)}[size]

    @property
    def cutoff(self) -> str:
        """Forecast train/test split and the nightly batch's first day
        (2019-05-01 at the bench size)."""
        return str(np.datetime64(WINDOW[0]) + self.days - HOLDOUT_DAYS)

    def generate(self, out: str, seed: int) -> dict:
        import pandas as pd

        rng = np.random.default_rng(seed)
        start = np.datetime64("2018-01-01T00:00:00", "s")
        files = {}
        for kind, (vendor, pu, do) in TAXI_SPECS.items():
            days = np.arange(self.days)
            if kind == "green":  # gap days exercise the spine
                days = days[rng.random(self.days) >= 0.09]
            weekly = 1.0 + 0.3 * np.sin(2 * np.pi * days / 7.0)
            day_of = np.repeat(days, rng.poisson(
                self.per_day * TAXI_RATE[kind] / 3 * weekly))
            t0 = start + (day_of * 86_400 + rng.integers(
                0, 86_400, day_of.size)).astype("timedelta64[s]")
            t1 = t0 + rng.integers(60, 3_600, day_of.size).astype("timedelta64[s]")
            cols = {pu: t0, do: t1,
                    "pulocationid": rng.integers(1, 266, day_of.size),
                    "dolocationid": rng.integers(1, 266, day_of.size)}
            if vendor:
                cols = {vendor: rng.integers(1, 3, day_of.size), **cols}
                cols["fare_amount"] = np.round(rng.gamma(2.0, 7.0, day_of.size), 2)
            df = pd.DataFrame(cols)
            if kind == "yellow":  # the reference's future-dated anomalies
                n = int(rng.integers(2, 6))
                bad = pd.DataFrame({c: [df[c].iloc[0]] * n for c in df.columns})
                bad[pu] = pd.to_datetime("2088-01-24 00:25:00")
                bad[do] = pd.to_datetime("2088-01-24 00:28:00")
                df = pd.concat([df, bad], ignore_index=True)
            df.to_csv(os.path.join(out, f"{kind}.csv"), index=False,
                      date_format="%Y-%m-%d %H:%M:%S")
            files[kind] = f"{kind}.csv"
        return files

    def oracle(self, root: str, files: dict) -> dict:
        con = _duck()
        per_type, daily, anomalies = {}, {}, 0
        for kind, (_, pu, _) in TAXI_SPECS.items():
            con.execute(f"CREATE OR REPLACE TABLE t AS SELECT {pu} AS pu FROM read_csv("
                        f"'{os.path.join(root, files[kind])}', header=true, all_varchar=true)")
            per_type[kind], n_future = con.execute(
                "SELECT count(*), count(*) FILTER (pu LIKE '2088%') FROM t").fetchone()
            anomalies += n_future
            for d, c in con.execute(
                "SELECT CAST(CAST(pu AS TIMESTAMP) AS DATE)::VARCHAR, count(*) FROM t "
                f"WHERE CAST(pu AS TIMESTAMP) > TIMESTAMP '{WINDOW[0]}' "
                f"AND CAST(pu AS TIMESTAMP) < TIMESTAMP '{WINDOW[1]}' GROUP BY 1"
            ).fetchall():
                daily[f"{kind}|{d}"] = c
        return {"per_type": per_type, "daily": daily, "anomalies": anomalies}

    def register(self, spark, inputs, spans):
        m = _modules(spans, ["sources.io", "sources.manifest", "operators.canonicalize",
                             "operators.timeseries", "forecast", "pipeline"])
        raw = {k: m["sources.io"].read_csv(spark, os.path.join(inputs["dir"], f))
               for k, f in inputs["files"].items()}
        return {"m": m, "raw": raw, "oracle": inputs["oracle"], "spans": spans}

    def run_pass(self, p, st):
        from pyspark.sql import functions as F

        m, spark, oracle = st["m"], p.spark, st["oracle"]
        io, ts, fc = m["sources.io"], m["operators.timeseries"], m["forecast"]

        def canon():
            frames = [m["operators.canonicalize"].canonicalize(
                st["raw"][k], k, drop_all_null=False) for k in TAXI_SPECS]
            return frames[0].unionByName(frames[1]).unionByName(frames[2])

        canon_path = p.path("canonical")
        p.op("canonicalize_write", "sources.io", canon,
             sink=lambda df: io.write_parquet(df, canon_path, mode="overwrite",
                                              partition_by=["type"]))
        p.op("register_catalog", "sources.io", lambda: io.register_catalog_table(
            spark, "taxi", "canonical", canon_path, ["type"]), sink="value")

        def per_type(rows):
            _expect("rows per type", {r["type"]: r["n"] for r in rows},
                    oracle["per_type"])
            _expect("year-2088 rows", sum(r["future"] for r in rows),
                    oracle["anomalies"])

        # spark.sql over the catalog table sources.io registered
        p.op("sql_rides_per_type", "sources.io", lambda: spark.sql(
            "SELECT type, count(*) AS n, "
            "sum(CAST(CAST(pickup_datetime AS STRING) LIKE '2088%' AS INT)) AS future "
            "FROM taxi.canonical GROUP BY type"),
            sink="collect", check=per_type)
        canonical = spark.table("taxi.canonical")
        filtered = canonical.where(
            (F.col("pickup_datetime") > F.lit(WINDOW[0]).cast("timestamp"))
            & (F.col("pickup_datetime") < F.lit(WINDOW[1]).cast("timestamp")))

        def daily_check(rows):
            got = {f"{r['type']}|{r['ts_resampled'].date()}": r["count"] for r in rows}
            _expect("daily counts per type", got, oracle["daily"])

        daily = p.op("counts_by_day", "operators.timeseries", lambda: ts.counts_by_day(
            filtered, "pickup_datetime", ["type"]).persist(), sink="collect",
            check=daily_check)

        def features():
            lo, hi = ts.epoch_bounds(ts.with_epoch(filtered, "pickup_datetime"))
            spine = ts.date_spine(spark, lo, hi).withColumn(
                "ts_resampled", F.col("epoch").cast("timestamp")).drop("epoch")
            return ts.gap_fill(ts.pivot_by_type(
                spine.join(F.broadcast(daily), "ts_resampled", "left"),
                "type", list(TAXI_SPECS)), 0)

        n_days = len({k.split("|")[1] for k in oracle["daily"]})
        p.op("spine_pivot_fill", "operators.timeseries", features,
             check=lambda r: _expect("spine rows", r[0], n_days))

        def monotone(rows):
            by: dict = {}
            for r in rows:
                by.setdefault((r["series"], r["ts"]), []).append(
                    (r["quantile"], r["value"]))
            for key, qv in by.items():
                vals = [v for _, v in sorted(qv)]
                if vals != sorted(vals):
                    raise AssertionError(f"quantiles decrease at {key}: {vals}")

        train_days: dict = {}
        for k in sorted(oracle["daily"]):
            kind, day = k.split("|")
            if day < self.cutoff:
                train_days.setdefault(kind, []).append(day)

        def deepar_check(rows):
            got = {r["type"]: json.loads(r["jsonline"]) for r in rows}
            _expect("DeepAR series", sorted(got), sorted(train_days))
            for kind, days in train_days.items():
                _expect(f"{kind} start", got[kind]["start"][:10], days[0])
                _expect(f"{kind} target", got[kind]["target"], [
                    float(oracle["daily"][f"{kind}|{d}"]) for d in days])

        def split(part):  # 0: train, before the cutoff; 1: test
            return fc.cutoff_split(daily, "ts_resampled", self.cutoff)[part]

        p.op("deepar_export", "forecast", lambda: fc.to_deepar_jsonlines(
            split(0), "type", "ts_resampled", "count"), sink="collect",
            check=deepar_check)
        forecaster = fc.SeasonalQuantileForecaster(
            time_freq="D", context_length=28, prediction_length=28)
        pred = p.op("forecast_predict", "forecast", lambda: forecaster.predict(
            split(0), "type", "ts_resampled", "count").persist(), sink="collect",
            check=monotone)

        def scores_check(rows):
            _expect("metric rows", sorted(r["metric"] for r in rows),
                    ["rmse"] + ["wQuantileLoss"] * len(forecaster.quantiles))
            bad = [r for r in rows if not r["value"] >= 0]
            _expect("negative or missing scores", bad, [])

        p.op("forecast_evaluate", "forecast", lambda: fc.evaluate(
            pred, split(1), series_col="type", ts_col="ts_resampled",
            actual_col="count"), sink="collect", check=scores_check)
        p.op("alert_check", "pipeline", lambda: m["pipeline"].alert_check(
            pred.where(F.col("quantile") == 0.5), "value", lo=1.0, hi=500.0),
            sink="value")
        self._land_features(p, st, daily)
        for df in (daily, pred):
            if df is not None:
                df.unpersist()

    def _land_features(self, p, st, daily):
        """The daily features table: a fresh ManifestTable per pass holding
        the history before the cutoff, then tonight's batch and its lifecycle."""
        from pyspark.sql import functions as F

        mf, oracle = st["m"]["sources.manifest"], st["oracle"]
        keys = ["type", "ts_resampled"]
        history = daily.where(F.col("ts_resampled") < F.lit(self.cutoff).cast("timestamp"))
        tonight = daily.where(F.col("ts_resampled") >= F.lit(self.cutoff).cast("timestamp"))
        root = p.path("features")
        table = p.op("features_history", "sources.manifest", lambda: _history(
            _proxy(mf.ManifestTable.create(p.spark, root), st["spans"]), history),
            sink="object")
        if table is None:
            return
        p.op("features_append", "sources.manifest", lambda: tonight,
             sink=lambda df: mf.exactly_once_writer(table, "nightly")(df, 1))
        p.op("features_replay", "sources.manifest", lambda: (
            table.append(tonight, app_id="nightly", batch_id=1),
            table.txn_watermark("nightly")), sink="value",
            check=lambda v: _expect("replayed batch", v, (False, 1)))
        v_before = table.latest_version()
        pred = f"ts_resampled < TIMESTAMP '{RETENTION}'"
        p.op("features_delete", "sources.manifest", lambda: table.delete(pred),
             sink="value")
        n_old = sum(1 for k in oracle["daily"] if k.split("|")[1] < RETENTION)

        def feed_check(r):
            _expect("change-feed rows", r[0], n_old)
            _expect("deleted keys left", table.read().where(pred).count(), 0)

        p.op("features_changes", "sources.manifest", lambda: table.changes_between(
            v_before, table.latest_version(), keys), check=feed_check)

    def end_pass(self, p, st):
        p.spark.sql("DROP TABLE IF EXISTS taxi.canonical")


def _json_lines(root: str) -> list[str]:
    lines = []
    for name in sorted(os.listdir(root)):
        if name.endswith(".json"):
            with open(os.path.join(root, name)) as f:
                lines.extend(line for line in f.read().splitlines() if line)
    return lines


def _history(table, history):
    table.append(history, app_id="nightly", batch_id=0)
    return table


def _proxy(obj, spans):
    import layers

    return layers.ModuleProxy(obj, "sources.manifest", spans)


# -- llm_curation ------------------------------------------------------------


class LlmCuration(Workload):
    """The examples/llm_curation_pipeline.py chain (SQL profile, exact
    dedup, quality/language/PII gate, adaptive gate, BPE training, packing
    and sharding, JSONL export) and LSH top-k over the embeddings."""

    name = "llm_curation"
    nominal_pass_s = 7.0

    def __init__(self, size: str):
        self.size = size
        self.sf = {"bench": 0.008, "tiny": 0.004}[size]

    def generate(self, out, seed):
        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        import gen_testdata

        gen_testdata.gen(self.sf, out, seed=seed)
        return {t: f"{t}.parquet" for t in ("documents", "embeddings")}

    def oracle(self, root, files):
        con = _duck()
        docs = os.path.join(root, files["documents"])
        return {
            "docs": con.execute(f"SELECT count(*) FROM '{docs}'").fetchone()[0],
            "exact_survivors": con.execute(
                "SELECT count(DISTINCT md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
                f"FROM '{docs}'").fetchone()[0],
        }

    def register(self, spark, inputs, spans):
        m = _modules(spans, [
            "sources.io", "sql_surface", "operators.textanalysis",
            "operators.dedup", "operators.similarity", "operators.curation",
            "operators.bpe", "operators.mlpipeline"])
        io = m["sources.io"]
        return {"m": m, "dir": inputs["dir"], "oracle": inputs["oracle"],
                "docs": io.read_testdata(spark, inputs["dir"], "documents"),
                "emb": io.read_testdata(spark, inputs["dir"], "embeddings")}

    def run_pass(self, p, st):
        from pyspark.sql import functions as F

        m, docs, oracle, spark = st["m"], st["docs"], st["oracle"], p.spark
        ta, dd = m["operators.textanalysis"], m["operators.dedup"]
        sim, bpe = m["operators.similarity"], m["operators.bpe"]
        ml = m["operators.mlpipeline"]

        p.op("sql_lang_mix", "sql_surface", lambda: m["sql_surface"].engine_sql(
            spark, st["dir"],
            "SELECT lang, count(*) AS n, sum(n_chars) AS chars "
            "FROM documents GROUP BY lang"), sink="collect",
            check=lambda rows: _expect("docs", sum(r["n"] for r in rows),
                                       oracle["docs"]))
        p.op("exact_dedup", "operators.dedup",
             lambda: dd.canonical_dedup(docs, "text", "doc_id"),
             check=lambda r: _expect("exact-dedup survivors", r[0],
                                     oracle["exact_survivors"]))

        def gate():
            q = ta.quality_features(docs, "text", "doc_id")
            lid = ta.lang_id(docs, "text", "doc_id")
            rep = ta.repetition_filter(docs, "text", "doc_id", max_ratio=0.5)
            return (docs.join(q.select("doc_id", "n_tokens", "stop_ratio"), "doc_id")
                    .join(lid.select("doc_id", "pred_lang"), "doc_id")
                    .join(rep.where(F.col("keep")).select("doc_id"), "doc_id")
                    .where((F.col("n_tokens") >= 10) & (F.col("stop_ratio") <= 0.9))
                    .withColumn("text", ta.redact_pii("text"))
                    .select("doc_id", "text", "lang", "source", "n_chars")
                    .persist())

        keep = p.op("quality_lang_pii_gate", "operators.textanalysis", gate)
        p.op("adaptive_gate", "operators.curation",
             lambda: m["operators.curation"].adaptive_quality_gate(
                 keep, "text", "doc_id", "lang", pct=0.25))
        p.op("bpe_train", "operators.bpe", lambda: bpe.train_bpe_merges(
            keep, "text", n_merges=64, max_word_types=100_000), sink="value")

        def pack_shard():
            packed = ml.pack_sequences(keep, "doc_id", "text", "lang",
                                       budget_tokens=512)
            return ml.shard_assign(keep.join(packed.select("doc_id", "bin", "n_tok"),
                                             "doc_id"), "doc_id", 8).select(
                "doc_id", "lang", "shard", "bin", "n_tok")

        out = p.path("export")

        def export(df):
            m["sources.io"].write_json_lines(df, out)
            return _json_lines(out)  # the exported rows, digested like any output

        p.op("pack_shard_export", "operators.mlpipeline", pack_shard, sink=export,
             check=lambda rows: _expect("exported rows", len(rows), keep.count()))
        vecs = st["emb"].select("vec_id", sim.as_double_vec("embedding").alias("v"))
        p.op("lsh_topk", "operators.similarity", lambda: sim.lsh_topk(
            vecs, vecs.where(F.col("vec_id") % 40 == 0), k=5, id_col="vec_id",
            vec_col="v"))
        if keep is not None:
            keep.unpersist()


WORKLOADS = {w.name: w for w in (TaxiNightly, LlmCuration)}
