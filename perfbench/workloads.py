"""The workloads.  Each drives the engine only through its public entry
points and is a closed loop with one caller: the next call starts when
the previous one has returned.

A workload has four parts: ``prepare`` makes the seeded inputs (untimed,
never counted as set-up), ``warm`` is a cheap warm-up run several times
(``setup_s`` counts the session start plus its median), ``unit`` is one
timed unit of work, and ``finish`` runs the checks and counts that need
the final state.  ``work_s`` is the median over units of the time spent
inside engine calls.
"""

from __future__ import annotations

import dataclasses
import os
import random
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, config, gen
from perfbench.harness import Bench, OpFailed, median, quantile

STEP_S = 60
DAY_ROWS = 86400 // STEP_S
#: the columns the tier pipeline reads from a sequences table
SEQ_COLS = ["doc_id", "source", "n_tok"]


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


class Pipeline:
    """The tier store's life as one unit: ingest, build, one late round.

    1. ingest: ``split_valid`` + ``encode_tokens`` over the seeded table,
       writing the encoded table and the quarantine;
    2. build: a full raw->1m->1h->1d build of the encoded table into a
       fresh store, ``validate=False`` as ``TierPipeline.prepare``
       documents, LOCF gap-fill, coarse payloads, exact percentiles;
    3. late round: fresh head rows and late rows for one committed day
       land as files; ``stream_tier_ingest`` turns them into 1m
       increments; reconcile + resume make every tier consistent again;
       ``expire`` drops 1m chunks before a cutoff and
       ``expire_snapshots`` compacts the manifest.

    Chunks are days, because ``stream_tier_ingest`` appends day-grain
    increments.  Chosen because pipeline, rollup/gapfill, codec and the
    manifest do nearly all the work and ``driver_queries`` none; the hot
    source (30% of rows) exercises skew, and the round makes a build gain
    that costs resume or chunk-proportional rewrites show.
    """

    def __init__(self, b: Bench):
        self.b = b
        self.spec = b.sizes["ingest"]
        self.dirs = {k: os.path.join(b.work, k) for k in (
            "input", "warm_input", "encoded", "quarantine", "store",
            "landing", "stream_ckpt")}
        self.manifest = os.path.join(self.dirs["store"], "manifest")
        self.round_info: list[dict] = []

    def prepare(self) -> None:
        table, self.n_bad = gen.sequences(self.spec, self.b.seed)
        self.n_rows = table.num_rows
        gen.write_parquet(table, self.dirs["input"], n_files=8)
        self.sample = table.column("tokens").slice(0, 20_000).to_pylist()
        warm = gen.SeqSpec(self.spec.n_sources, 200)
        gen.write_parquet(gen.sequences(warm, self.b.seed, salt=1)[0],
                          self.dirs["warm_input"], n_files=4)

    def warm(self) -> None:
        from gents_spark.functions.codec_udfs import encode_tokens
        from gents_spark.timeparse import split_valid

        spark = self.b.spark
        valid, _ = split_valid(spark.read.parquet(self.dirs["warm_input"]))
        valid.select(encode_tokens("tokens")).write.format("noop").mode(
            "overwrite").save()

    def _pipe(self):
        from gents_spark.pipeline import TierPipeline

        return TierPipeline(
            self.b.spark, step_s=STEP_S, gapfill_mode="locf", validate=False,
            payloads="coarse", percentile_mode="exact", chunk_grain="day")

    def unit(self, i: int) -> dict:
        from gents_spark.functions.codec_udfs import encode_tokens
        from gents_spark.timeparse import split_valid

        b, spark, d = self.b, self.b.spark, self.dirs
        for k in ("encoded", "quarantine", "store", "landing", "stream_ckpt"):
            shutil.rmtree(d[k], ignore_errors=True)
        with b.op("ingest") as s_ing:
            valid, bad = split_valid(spark.read.parquet(d["input"]))
            valid.select(
                *SEQ_COLS, encode_tokens("tokens").alias("tokens_payload")
            ).write.parquet(d["encoded"])
            bad.write.parquet(d["quarantine"])
        with b.op("build") as s_build:
            m = self._pipe().run(spark.read.parquet(d["encoded"]),
                                 d["store"], resume=False, run_id=f"build-{i}")
        ph = m["phases"]
        out = {
            "ingest_s": s_ing.dur,
            "build_s": s_build.dur,
            "points": sum(t["rows"] for t in m["tiers"].values()),
            "pipeline.pre_write_s": s_build.dur - ph["total"],
            "manifest.write_s": ph["write"],
            "manifest.stats_s": ph["stats"],
            "manifest.append_s": ph["total"] - ph["write"] - ph["stats"],
        }
        with b.tracer.span("check"):
            out.update(self._check_build())
        out.update(self._round(i))
        out["work_s"] = (s_ing.dur + s_build.dur + out["stream_catchup_s"]
                         + out["catchup_s"] + out["retention_s"])
        return out

    def _check_build(self) -> dict:
        """Tier check and store counts of the freshly built store."""
        con, d = checks.connect(), self.dirs
        self.b.check("tiers_built", checks.tier_mismatches(
            con, [d["input"]], d["store"], STEP_S, "day"))
        files, size = _dir_stats(os.path.join(d["store"], "tiers"))
        counts = {"manifest.tier_files": files}
        points = 0
        for tier, real, filled in con.sql(
            f"SELECT tier, count(*) FILTER (NOT filled), "
            f"count(*) FILTER (filled) FROM read_parquet("
            f"'{d['store']}/tiers/*/*/*.parquet', hive_partitioning=true) "
            f"GROUP BY tier"
        ).fetchall():
            counts[f"rollup.points_{tier}"] = real
            counts[f"gapfill.filled_{tier}"] = filled
            points += real + filled
        counts["tier_bytes_per_point"] = size / points
        return counts

    def _land(self, r: int) -> None:
        """Half a day of fresh rows per source, and late rows (doc_id
        suffix ``#<r>``) for one committed day every source has filled."""
        sizes = gen.source_sizes(self.spec)
        # landed files are already validated: the pipeline reads them
        # with validate=False, like the encoded table
        spec = dataclasses.replace(self.spec, invalid_frac=0.0)
        fresh = [DAY_ROWS // 2] * len(sizes)
        t, _ = gen.sequences(spec, self.b.seed, seq0=sizes, sizes=fresh,
                             salt=100 + r)
        pq.write_table(t, os.path.join(self.dirs["landing"], "fresh.parquet"))
        rng = np.random.default_rng([self.b.seed, 3, r])
        day = int(rng.integers(r + 1, max(r + 2, min(sizes) // DAY_ROWS)))
        t, _ = gen.sequences(spec, self.b.seed, seq0=day * DAY_ROWS + 100,
                             sizes=[50] * len(sizes), suffix=f"#{r}",
                             salt=200 + r)
        pq.write_table(t, os.path.join(self.dirs["landing"], "late.parquet"))

    def _round(self, r: int) -> dict:
        from gents_spark.operators.retention import expire
        from gents_spark.plans.manifest import expire_snapshots
        from gents_spark.streaming.rollup_stream import stream_tier_ingest

        b, spark, d = self.b, self.b.spark, self.dirs
        t_round = time.time()
        with b.tracer.span("land"):
            os.makedirs(d["landing"])
            self._land(r)
        with b.op("stream") as s_stream:
            q = stream_tier_ingest(spark, d["landing"], d["store"],
                                   d["stream_ckpt"], tier="1m", step_s=STEP_S)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        inputs = spark.read.parquet(d["encoded"]).select(SEQ_COLS).unionByName(
            spark.read.parquet(d["landing"]).select(SEQ_COLS))
        with b.tracer.span("catchup") as s_catch:
            with b.op("reconcile") as s_rec:
                rep = self._pipe().reconcile(inputs, d["store"],
                                             run_id=f"reconcile-{r}")
            with b.op("resume") as s_res:
                m = self._pipe().run(inputs, d["store"], resume=True,
                                     run_id=f"resume-{r}")
        cutoff = str(np.datetime64("2026-01-01", "D") + r + 1)
        with b.tracer.span("retention") as s_ret:
            with b.op("expire") as s_exp:
                removed = expire(spark, os.path.join(d["store"], "tiers"),
                                 self.manifest, "1m", cutoff)
            with b.op("expire_snapshots") as s_snap:
                expire_snapshots(spark, self.manifest, older_than_ts=t_round)
        with b.tracer.span("check"):
            self._check_round(r, t_round)
        return {
            "stream_catchup_s": s_stream.dur,
            "catchup_s": s_catch.dur,
            "retention_s": s_ret.dur,
            "reconcile.s": s_rec.dur,
            "reconcile.stale_units": len(rep["stale"]),
            "pipeline.resume_s": s_res.dur,
            "pipeline.resume_units_written": sum(
                t["written"] for t in m["tiers"].values()),
            "retention.expire_s": s_exp.dur,
            "retention.chunks_expired": len(removed),
            "manifest.expire_snapshots_s": s_snap.dur,
        }

    def _check_round(self, r: int, t_round: float) -> None:
        b, con, d = self.b, checks.connect(), self.dirs
        inputs = [d["input"], d["landing"]]
        b.check(f"tiers_round{r}", checks.tier_mismatches(
            con, inputs, d["store"], STEP_S, "day"))
        b.check(f"resumed_round{r}", checks.unfinished_chunks(
            con, self.manifest))
        inc_rows, n_files = con.sql(
            f"SELECT coalesce(sum(n_rows) FILTER (status = 'increment' AND "
            f"checkpoint_ts >= {t_round}), 0), count(DISTINCT filename) "
            f"FROM read_parquet('{self.manifest}/*.parquet', filename=true, "
            f"union_by_name=true)").fetchone()
        rewritten_rows = con.sql(
            f"SELECT count(*) FROM ({checks.valid_rows(inputs, STEP_S)}) "
            f"WHERE strftime(et, '%Y-%m-%d') IN (SELECT chunk FROM "
            f"read_parquet('{self.manifest}/*.parquet', union_by_name=true) "
            f"WHERE run_id = 'resume-{r}')").fetchone()[0]
        self.round_info.append({"stream.increment_rows": inc_rows,
                                "manifest.files": n_files,
                                "rewritten_input_rows": rewritten_rows})

    def finish(self) -> dict:
        import pyspark.sql.functions as F

        from gents_spark.functions.codec import encode_i64_batch
        from gents_spark.functions.codec_udfs import decode_tokens

        b, con, d, spark = self.b, checks.connect(), self.dirs, self.b.spark
        n_quar = checks.count_rows(con, d["quarantine"])
        b.check("quarantine", [] if n_quar == self.n_bad else
                [f"quarantined {n_quar} rows, injected {self.n_bad}"])
        src = spark.read.parquet(d["input"]).select("doc_id", "tokens")
        same = decode_tokens("tokens_payload") == F.col("tokens")
        n_diff = (spark.read.parquet(d["encoded"]).join(src, "doc_id", "left")
                  .filter(~F.coalesce(same, F.lit(False))).count())
        n_enc = checks.count_rows(con, d["encoded"])
        b.check("codec_roundtrip", [] if n_diff == 0 and
                n_enc == self.n_rows - self.n_bad else
                [f"{n_diff} of {n_enc} decoded arrays differ"])
        payload_bytes, tokens = con.sql(
            f"SELECT sum(octet_length(tokens_payload)), sum(n_tok) "
            f"FROM '{d['encoded']}/*.parquet'").fetchone()
        t0 = time.perf_counter()
        encode_i64_batch(self.sample)
        probe_s = time.perf_counter() - t0
        return {
            "codec.bytes_out": payload_bytes,
            "codec.encode_seqs_per_s": len(self.sample) / probe_s,
            "timeparse.quarantined_rows": n_quar,
            "encoded_bytes_per_token": payload_bytes / tokens,
        }

    def headline(self, samples: dict) -> dict:
        if not samples["work_s"]:
            return {}
        return {
            "ingest_seqs_per_s": self.n_rows / median(samples["ingest_s"]),
            "build_points_per_s": median(samples["points"])
            / median(samples["build_s"]),
        }


class QueryBattery:
    """The 74 frozen battery queries over seeded star/event/document
    tables, one pass per unit in a seed-shuffled order.

    Chosen because ``driver_queries`` and the ``operators`` it calls do
    all the work while pipeline, codec and manifest do none: a pipeline
    change must read "no change" here.
    """

    def __init__(self, b: Bench):
        self.b = b
        self.star = os.path.join(b.work, "star")

    def prepare(self) -> None:
        gen.write_star(self.b.sizes["star_sf"], self.b.seed, self.star)
        self.con = checks.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{self.star}/{t}.parquet'")

    def warm(self) -> None:
        for t in ("orders", "events", "documents"):
            self.b.spark.read.parquet(f"{self.star}/{t}.parquet").count()

    def unit(self, i: int) -> dict:
        from gents_spark.driver_queries import ORACLES, QUERIES

        b = self.b
        order = list(config.BATTERY)
        random.Random(b.seed * 1000 + i).shuffle(order)
        out = {"work_s": 0.0}
        for name in order:
            try:
                with b.op(f"query.{name}") as s:
                    tab = QUERIES[name](b.spark, self.star).toArrow()
            except OpFailed:
                continue  # counted as failed; the pass goes on
            out[f"query.{name}_s"] = s.dur
            out["work_s"] += s.dur
            with b.tracer.span("check"):
                b.check(name, checks.oracle_problems(
                    name, tab, self.con, ORACLES[name]))
        b.spark.catalog.clearCache()
        return out

    def finish(self) -> dict:
        return {}

    def headline(self, samples: dict) -> dict:
        lat = [x for k, v in samples.items() if k.startswith("query.")
               for x in v]
        return {
            "query_p50_s": median(lat),
            "query_p90_s": quantile(lat, 0.9),
            "query_samples": len(lat),
        }


WORKLOADS = {
    "pipeline": Pipeline,
    "query_battery": QueryBattery,
}
