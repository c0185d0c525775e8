"""The benchmark's workloads.

Each workload has ``prepare`` (seeded inputs and oracles, before the
Spark session exists), ``measure`` (returns end-to-end metrics as
name -> (value, unit)), ``verify`` (correctness checks outside the
timed regions) and ``layer_extras`` (per-layer metrics that are not
span counters).  Calls into the program go through ``ctx.span`` so a
traced run can attribute Spark's jobs to them.

Neither workload has a warm-up pass: a cold pass of either path costs
most of a run's time budget (see perfbench/README.md), so each run
measures the first build / delivery after the session starts, which is
what a spark-submit batch job pays every time and what the ingest
service pays after each restart.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
from collections import Counter

import corpus
from evlog import percentile
from harness import fresh_dir

# Read latency is reported as the median only: a run's time budget
# leaves room for a few dozen reads, and p50 is the highest percentile
# that keeps >= 10 samples beyond it at the minimum read count.
MIN_READS = 21
READ_TAIL = 10
N_BUCKETS = 8


def _dir_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for d in paths for p in glob.glob(
        os.path.join(d, "**", "*.parquet"), recursive=True))


def _parse_turn_rate(parquet_path: str, n: int = 2000) -> float:
    """Driver-side markup.parse_turn calls on a sample of corpus turns."""
    import pyarrow.parquet as pq

    from gg2rdf_spark.functions.markup import parse_turn

    t = pq.read_table(parquet_path, columns=["turn_idx", "text"])
    rows = list(zip(t.column("turn_idx").to_pylist(),
                    t.column("text").to_pylist()))[:n]
    done, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.5:
        for idx, text in rows:
            parse_turn(text, idx)
        done += len(rows)
    return done / (time.perf_counter() - t0)


class Reader:
    """One closed-loop consumer thread: calls ``read(i)``, waits
    ``think_s``, and repeats until ``finish`` has been called, at least
    ``MIN_READS`` reads are done and the run has measured for
    ``--seconds``.  ``read`` returns a record kept for the correctness
    checks."""

    def __init__(self, ctx, read, window_start: float, think_s: float):
        self.ctx, self.read, self.think_s = ctx, read, think_s
        self.rng = random.Random(ctx.seed)
        self.until = window_start + ctx.seconds
        self.lat: list[float] = []
        self.records: list = []
        self._done = threading.Event()
        self._abort = threading.Event()
        self._t = threading.Thread(target=self._loop, name="reader")
        self._t.start()

    def _loop(self) -> None:
        i = 0
        while not self._abort.is_set() and not (
                self._done.is_set() and len(self.lat) >= MIN_READS
                and time.perf_counter() >= self.until):
            self.ctx.count_op()
            t0 = time.perf_counter()
            try:
                rec = self.read(self.ctx, self.rng, i)
            except Exception:
                self.ctx.op_failed(f"read {i}")
                if len(self.ctx.errors) > 20:
                    return
            else:
                self.lat.append(time.perf_counter() - t0)
                self.records.append(rec)
            i += 1
            self._done.wait(self.think_s)

    def finish(self) -> dict:
        self._done.set()
        self._t.join()
        return {"read_p50_s": (percentile(self.lat, 0.5, min_tail=READ_TAIL),
                               "s")}

    def abort(self) -> None:
        """Stops the loop after the read in flight (error paths)."""
        self._abort.set()
        self._t.join()


class BulkBuild:
    """The jobs/kg_job.py batch sequence (KGPipeline -> materialize ->
    status counts -> turtle_frame written), then north-rule stages 2-3
    over the same build (link_mentions_salted -> connected_components
    over the dictionary's alias graph -> canonical_triples written).
    Once materialize has made the graph visible, a consumer thread
    reads the batch sink beside the rest of the job."""

    CORPUS_CONVS = 450
    DICT_ENTITIES = 2_000
    THINK_S = 0.05  # reader pause between reads

    SPANS = [
        "pipeline.KGPipeline",
        "extract.parse_mentions", "extract.docs_frame",
        "extract.treatment_taxon",
        "assemble.conv_frame", "assemble.citation_frame",
        "assemble.citation_fold", "assemble.figure_frame",
        "assemble.material_frame",
        "triples.triples_frame", "materialize.materialize",
        "triples.status_frame", "serialize.turtle_frame",
        "linking.link_mentions_salted",
        "canonicalize.connected_components",
        "canonicalize.canonical_triples",
    ]

    def prepare(self, ctx) -> None:
        d = fresh_dir(os.path.join(ctx.run_dir, "inputs"))
        self.range = corpus.doc_range(ctx.seed, 0, self.CORPUS_CONVS)
        self.path = os.path.join(d, "transcripts.parquet")
        corpus.write_transcripts(self.path, *self.range)
        self.dict_path = os.path.join(d, "dictionary.parquet")
        dict_rows = corpus.entity_dictionary(
            self.dict_path, ctx.seed, self.DICT_ENTITIES)
        self.oracle = corpus.KGOracle([self.range])
        self.link_rows = corpus.link_oracle([self.range], self.dict_path)
        self.labels = corpus.components(dict_rows)
        self.out = fresh_dir(os.path.join(ctx.run_dir, "out"))
        self.sink = os.path.join(self.out, "sink")

    def measure(self, ctx) -> dict:
        from pyspark.sql import functions as F

        from gg2rdf_spark.operators.canonicalize import (
            canonical_triples, connected_components)
        from gg2rdf_spark.operators.linking import (
            alias_edges, link_mentions_salted)
        from gg2rdf_spark.pipeline import KGPipeline
        from gg2rdf_spark.sources.materialize import materialize

        spark, out, r = ctx.spark, self.out, {}
        # KGPipeline's at-scale regime (the one its size gates pick above
        # 100k turns): eager cache waves on, mention pre-partition off.
        # A traced run turns the waves off and counts the same frames one
        # at a time below, so that each gets its own span.
        spark.conf.set("spark.gg2rdf.eagerCache",
                       "false" if ctx.trace else "true")
        spark.conf.set("spark.gg2rdf.mentionPartitionMaxRows", "0")
        t0 = time.perf_counter()
        ctx.count_op()  # the build
        transcripts = spark.read.parquet(self.path)
        with ctx.span("pipeline.KGPipeline"):
            pipe = KGPipeline(transcripts)
        triples = pipe.triples()
        if ctx.trace:
            # count the pipeline's own persisted frames in dependency
            # order, then the persisted triples
            for name, df in (
                    ("extract.parse_mentions", pipe.mentions),
                    ("extract.docs_frame", pipe.docs),
                    ("extract.treatment_taxon", pipe.tt),
                    ("assemble.conv_frame", pipe.convs),
                    ("assemble.citation_frame", pipe.cits),
                    ("assemble.citation_fold", pipe.fold),
                    ("assemble.figure_frame", pipe.figs),
                    ("assemble.material_frame", pipe.mats)):
                with ctx.span(name):
                    df.count()
            triples = triples.persist()
            with ctx.span("triples.triples_frame"):
                triples.count()
        with ctx.span("materialize.materialize"):
            r["mat"] = materialize(triples, self.sink, n_buckets=N_BUCKETS,
                                   resume=False)
        t_visible = time.perf_counter()
        reader = Reader(ctx, self._read, t0, self.THINK_S)
        try:
            with ctx.span("triples.status_frame"):
                r["status"] = {
                    row.status: row.n for row in pipe.status()
                    .groupBy("status").count()
                    .withColumnRenamed("count", "n").collect()}
            with ctx.span("serialize.turtle_frame"):
                pipe.turtle().write.mode("overwrite").parquet(
                    os.path.join(out, "ttl"))
            dictionary = spark.read.parquet(self.dict_path)
            ctx.count_op()
            with ctx.span("linking.link_mentions_salted"):
                linked = link_mentions_salted(pipe.mentions,
                                              dictionary).persist()
                r["n_linked"] = linked.count()
            ctx.count_op()
            with ctx.span("canonicalize.connected_components"):
                r["labels"] = connected_components(alias_edges(dictionary))
            link_triples = linked.select(
                "conv_id",
                F.concat(F.lit("urn:conv:"), "conv_id").alias("subj"),
                F.lit("dwc:taxonNameRef").alias("pred"),
                F.col("entity_id").alias("obj"))
            ctx.count_op()
            with ctx.span("canonicalize.canonical_triples"):
                canonical_triples(link_triples, r["labels"]).write.mode(
                    "overwrite").parquet(os.path.join(out, "canonical"))
            t1 = time.perf_counter()
        except BaseException:
            reader.abort()
            raise
        reads = reader.finish()
        self.reads = reader.records
        self.result = r
        return {
            "triples_per_s": (r["mat"]["n_triples"] / (t1 - t0), "triples/s"),
            "visible_s": (t_visible - t0, "s"),
            **reads,
        }

    def _read(self, ctx, rng, i: int):
        """Two point lookups, then one per-predicate aggregate of the
        batch sink.  Lookups are usually the faster kind; with half of
        each, the pooled median would sit at the boundary between the two
        kinds, so the mix keeps it among the lookups.  The lookup names
        its bucket the way materialize places rows, so Spark prunes the
        other bucket directories."""
        from pyspark.sql import functions as F

        from gg2rdf_spark.sources.materialize import read_triples

        df = read_triples(ctx.spark, self.sink)
        if i % 3 < 2:
            cid = corpus.conv_id(rng.randrange(*self.range))
            bucket = F.pmod(F.hash(F.lit(cid)), F.lit(N_BUCKETS))
            n = df.filter((F.col("conv_bucket") == bucket)
                          & (F.col("conv_id") == cid)).count()
            return ("conv", cid, n)
        return ("preds", {row.pred: row["count"] for row in
                          df.groupBy("pred").count().collect()})

    def verify(self, ctx) -> None:
        from gg2rdf_spark.functions.ttl_check import validate_turtle
        from gg2rdf_spark.sources.materialize import read_triples

        spark, r, out = ctx.spark, self.result, self.out
        per_conv = self.oracle.conv_counts()
        preds = self.oracle.pred_counts()
        for rec in self.reads:
            want = per_conv.get(rec[1], 0) if rec[0] == "conv" else preds
            ctx.check(rec[-1] == want, f"read {rec} != oracle {want}")
        n_back = read_triples(spark, self.sink).count()
        ctx.check(n_back == r["mat"]["n_triples"],
                  f"sink read-back {n_back} != materialize "
                  f"{r['mat']['n_triples']}")
        ctx.check(r["status"] == self.oracle.status_counts(),
                  f"status {r['status']} != oracle "
                  f"{self.oracle.status_counts()}")
        ttl = spark.read.parquet(os.path.join(out, "ttl"))
        n_docs = ttl.count()
        ctx.check(n_docs == self.oracle.ttl_convs(),
                  f"turtle docs {n_docs} != oracle {self.oracle.ttl_convs()}")
        for row in ttl.sample(fraction=min(1.0, 30 / max(n_docs, 1)),
                              seed=ctx.seed % 2**31).collect():
            errs = validate_turtle(row.ttl)
            ctx.check(not errs, f"turtle {row.conv_id}: {errs[:3]}")
        ctx.check(r["n_linked"] == len(self.link_rows),
                  f"linked {r['n_linked']} != oracle {len(self.link_rows)}")
        n_comp = r["labels"].select("component").distinct().count()
        want_comp = len(set(self.labels.values()))
        ctx.check(n_comp == want_comp,
                  f"components {n_comp} != union-find {want_comp}")
        want_canon = len({(c, self.labels.get(e, e))
                          for c, _, e in self.link_rows})
        n_canon = spark.read.parquet(os.path.join(out, "canonical")).count()
        ctx.check(n_canon == want_canon,
                  f"canonical rows {n_canon} != oracle {want_canon}")

    def layer_extras(self, ctx) -> dict:
        return {
            "functions.parse_turn.turns_per_s": _parse_turn_rate(self.path),
            "materialize.bytes_per_triple":
                _dir_bytes([os.path.join(self.sink, "data")])
                / self.result["mat"]["n_triples"],
        }


class WebhookIngest:
    """The Spark analog of the reference's webhook service, writes beside
    reads.  One delivery of whole conversations lands as a new parquet
    file at its due time (open loop) and triggers one availableNow
    ``stream_transcripts_snapshots`` run.  Beside it, a backfill of
    earlier conversations (oracle-derived triples) commits through
    ``commit_append``, retractions (``delete_conversations``) follow on a
    fixed schedule, and a compaction runs once the delivery is visible.
    From the first commit on, one consumer thread reads in a closed loop:
    point lookups, changes since its last version (falling back to a full
    read across a delete) and a per-predicate aggregate."""

    HISTORY_CONVS = 80
    DELIVERY_CONVS = 400
    THINK_S = 1.0  # reader pause between reads
    N_RETRACT = 4
    # (seconds after the delivery is due, op) while the delivery runs;
    # then, once it is visible, a compaction of the buckets that hold
    # both a history and a delivery dir
    SCHEDULE = [(10.0, "retract"), (20.0, "retract")]
    AFTER = ["compact"]

    SPANS = [
        "streaming.stream_transcripts_snapshots",
        "snapshot_store.commit_append",
        "snapshot_store.read_conversations", "snapshot_store.read_changes",
        "snapshot_store.read_triples", "snapshot_store.delete_conversations",
        "snapshot_store.compact",
    ]

    def prepare(self, ctx) -> None:
        d = fresh_dir(os.path.join(ctx.run_dir, "inputs"))
        history = corpus.doc_range(ctx.seed, 0, self.HISTORY_CONVS)
        self.range = corpus.doc_range(ctx.seed, self.HISTORY_CONVS,
                                      self.DELIVERY_CONVS)
        self.history_path = os.path.join(d, "history.parquet")
        corpus.write_history(self.history_path, *history)
        self.staged = os.path.join(d, "delivery-0.parquet")
        corpus.write_transcripts(self.staged, *self.range)
        self.old = corpus.KGOracle([history])
        self.new = corpus.KGOracle([self.range])
        rng = random.Random(ctx.seed)
        old = [corpus.conv_id(x) for x in range(*history)]
        new = [corpus.conv_id(x) for x in range(*self.range)]
        n = self.N_RETRACT
        picked = rng.sample(old, 2 * n)
        self.retractions = [picked[:n], picked[n:]]
        self.lookup = (old, new)
        self.inbox = fresh_dir(os.path.join(ctx.run_dir, "inbox"))
        self.root = os.path.join(ctx.run_dir, "store")
        self.ckpt = os.path.join(ctx.run_dir, "checkpoint")
        self.last_seen = 0
        self.deleted_at: list[tuple[int, list[str]]] = []

    def _op(self, ctx, op: str, retract) -> None:
        from gg2rdf_spark.sources import snapshot_store as ss

        ctx.count_op()
        if op == "retract":
            ids = next(retract)
            with ctx.span("snapshot_store.delete_conversations"):
                v = ss.delete_conversations(ctx.spark, self.root, ids)
            self.deleted_at.append((v["version"], ids))
        else:
            with ctx.span("snapshot_store.compact"):
                ss.compact(ctx.spark, self.root)

    def measure(self, ctx) -> dict:
        from gg2rdf_spark.sources.snapshot_store import commit_append
        from gg2rdf_spark.streaming.incremental import (
            stream_transcripts_snapshots)

        late = ctx.diag.setdefault("lateness_s", [])
        retract = iter(self.retractions)
        t_window = time.perf_counter()
        due = time.time()
        ctx.count_op()
        # the delivery: one whole-conversation file appears in the inbox
        os.replace(self.staged, os.path.join(self.inbox, "delivery-0.parquet"))
        late.append(time.time() - due)
        with ctx.span("streaming.stream_transcripts_snapshots") as s:
            q = stream_transcripts_snapshots(ctx.spark, self.inbox, self.root,
                                             self.ckpt, n_buckets=N_BUCKETS)
            s.groups.append(str(q.runId))  # its micro-batch job group
            # beside it, a backfill of earlier conversations commits; the
            # reader starts once the table has that first snapshot
            ctx.count_op()
            with ctx.span("snapshot_store.commit_append"):
                commit_append(ctx.spark.read.parquet(self.history_path),
                              self.root, n_buckets=N_BUCKETS, run_id="history")
            reader = Reader(ctx, self._read, t_window, self.THINK_S)
            try:
                for offset, op in self.SCHEDULE:
                    wait = due + offset - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    late.append(time.time() - (due + offset))
                    self._op(ctx, op, retract)
                q.awaitTermination()
                ctx.diag["delivery_done_s"] = time.time() - due
                if q.exception() is not None:
                    raise RuntimeError(f"delivery failed: {q.exception()}")
                for op in self.AFTER:
                    self._op(ctx, op, retract)
            except BaseException:
                reader.abort()
                raise
        reads = reader.finish()
        self.reads = reader.records
        # the commit that carries the delivery, and when it was published
        mans = self._manifests()
        self.v_new = min(v for v, m in mans
                         if any(r.startswith("batch-") for r in m["run_ids"]))
        self.v_old = min(v for v, m in mans if "history" in m["run_ids"])
        t_visible = os.path.getmtime(self._snap(self.v_new))
        added = self._manifest(self.v_new)["counters"]
        self.trigger_s = t_visible - due
        self.added_s = sum(p["durationMs"].get("addBatch", 0)
                           for p in q.recentProgress) / 1000.0
        ctx.diag["lateness_max_s"] = max(late)
        return {
            "triples_per_s": (sum(c["n_triples"] for c in added.values())
                              / self.trigger_s, "triples/s"),
            "visible_s": (t_visible - due, "s"),
            **reads,
        }

    def _snap(self, version: int) -> str:
        return os.path.join(self.root, "snaps", f"{version:012d}.json")

    def _manifest(self, version: int) -> dict:
        with open(self._snap(version)) as f:
            return json.load(f)

    def _manifests(self):
        from gg2rdf_spark.sources.snapshot_store import current_version

        return [(v, self._manifest(v))
                for v in range(1, current_version(self.root) + 1)]

    def _read(self, ctx, rng, i: int):
        from pyspark.sql import functions as F

        from gg2rdf_spark.sources import snapshot_store as ss

        spark = ctx.spark
        v = ss.current_version(self.root)
        kind = i % 3
        if kind == 0:
            ids = [rng.choice(self.lookup[i % 2]),
                   rng.choice(self.retractions[i % 2])]
            with ctx.span("snapshot_store.read_conversations"):
                rows = ss.read_conversations(spark, self.root, ids, version=v) \
                    .groupBy("conv_id").count().collect()
            return ("convs", v, {r.conv_id: r["count"] for r in rows})
        if kind == 1:
            with ctx.span("snapshot_store.read_changes"):
                try:
                    df = ss.read_changes(spark, self.root, self.last_seen, v)
                except ValueError:  # a delete in range: read the table
                    df = ss.read_triples(spark, self.root, version=v)
                got = {r.conv_id for r in
                       df.select("conv_id").distinct().collect()}
            self.last_seen = v
            return ("changes", v, got)
        with ctx.span("snapshot_store.read_triples"):
            rows = ss.read_triples(spark, self.root, version=v) \
                .groupBy("pred").agg(F.count("*").alias("n")).collect()
        return ("preds", v, {r.pred: r.n for r in rows})

    def _expected(self, v: int) -> tuple[dict, dict]:
        """(per-conv triple counts, per-predicate counts) at version v."""
        dead = {c for dv, ids in self.deleted_at if dv <= v for c in ids}
        per_conv: Counter = Counter()
        preds: Counter = Counter()
        for o, since in ((self.old, self.v_old), (self.new, self.v_new)):
            if v >= since:
                per_conv.update(o.conv_counts(drop=dead))
                preds.update(o.pred_counts(drop=dead))
        return dict(per_conv), dict(preds)

    def verify(self, ctx) -> None:
        from gg2rdf_spark.sources import snapshot_store as ss

        for rec in self.reads:
            kind, v = rec[0], rec[1]
            per_conv, preds = self._expected(v)
            if kind == "convs":
                for cid, n in rec[2].items():
                    ctx.check(n == per_conv.get(cid),
                              f"lookup at v{v}: {cid} has {n} triples, "
                              f"oracle {per_conv.get(cid)} (0 if retracted)")
            elif kind == "changes":
                bad = rec[2] - set(per_conv)
                ctx.check(not bad, f"changes at v{v} returned {sorted(bad)}")
            else:
                ctx.check(rec[2] == preds, f"aggregate at v{v} != oracle")
        final = ss.current_version(self.root)
        got = {r.pred: r["count"] for r in ss.read_triples(
            ctx.spark, self.root).groupBy("pred").count().collect()}
        ctx.check(got == self._expected(final)[1],
                  f"final v{final} per-predicate counts != oracle over "
                  "delivered - retracted")
        ctx.check(len(self.deleted_at) == len(self.retractions),
                  "not every retraction committed")

    def layer_extras(self, ctx) -> dict:
        from gg2rdf_spark.sources import snapshot_store as ss

        mans = [m for _, m in self._manifests()]
        fanin = max(len(ds) for m in mans for ds in m["buckets"].values())
        dirs = [os.path.join(self.root, d)
                for ds in mans[-1]["buckets"].values() for d in ds]
        n = ss.read_triples(ctx.spark, self.root).count()
        return {
            "streaming.trigger_overhead_s": self.trigger_s - self.added_s,
            "snapshot_store.read_fanin_dirs": fanin,
            "snapshot_store.bytes_per_triple": _dir_bytes(dirs) / n,
            "functions.parse_turn.turns_per_s": _parse_turn_rate(
                os.path.join(self.inbox, "delivery-0.parquet")),
        }


ALL = {"bulk_build": BulkBuild, "webhook_ingest": WebhookIngest}

ALL_SPANS = [s for w in ALL.values() for s in w.SPANS]
EXTRAS = {
    "functions.parse_turn.turns_per_s": "turns/s",
    "streaming.trigger_overhead_s": "s",
    "snapshot_store.read_fanin_dirs": "count",
    "snapshot_store.bytes_per_triple": "B/triple",
    "materialize.bytes_per_triple": "B/triple",
}
