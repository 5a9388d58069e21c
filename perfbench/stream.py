"""``kafka_to_lake``: loopback Kafka → per-user running aggregates →
exactly-once appends to a transaction-log table, then reads of it.

Pipeline: ``stream_kafka_loopback`` → ``parse_kafka_topology`` →
per-``user_id`` count, sum(amount) and max(created_ms) in update mode →
``run_foreach_batch`` with a persistent checkpoint →
``TxTable.append_batch`` per micro-batch.

Phases:
  A backfill: twice, preload a backlog and drain it with one call.
    ``work_s`` is the mean time spent in the sink on a backlog's
    micro-batch: per-event fetch, JSON decode, aggregation with its
    state commit and the log append, without the query start every call
    pays.
  B live: an open loop at a fixed rate, each event stamped with its due
    time; the consumer calls ``run_foreach_batch`` back to back (the
    library's resume-from-checkpoint pattern). Query start, state-store
    commit and log commit dominate. The phase ends by stopping the
    generator and draining — a query is never stopped mid-trigger.
  C reads: closed-loop ``TxTable.read`` calls on what B wrote.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time

from perfbench import harness, stats
from perfbench.data import EventSource

PARTITIONS = 4
TOPIC = "events"
SOURCE = "perfbench"
# The backfill: as large as a run's time allows. Producing it through
# the wire costs about 1.5 s per 100k events before the timed drain.
BACKLOG = 100_000
# Phase A drains this many backlogs one after the other and reports the
# mean of their sink times: one batch of about 3 s alone spreads by a
# fifth between runs of the same code.
BACKFILLS = 2
# Offered live rate, far below what one trigger drains, so a slower host
# lengthens triggers without building a backlog.
RATE = 2_000
READ_ROUNDS = 8
TICK_S = 0.005
# Set-up's trigger drains this preload. It runs the per-event path
# (fetch, JSON decode, aggregation) often enough for the JVM to compile
# it before phase A, whose timed batches otherwise carry part of that
# compilation and spread more between runs.
WARMUP_EVENTS = 20_000
SMOKE = {"backlog": 2_000, "warmup": 2_000, "rate": 1_000, "read_rounds": 1}


def value_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("etype", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("created_ms", T.LongType()),
        ]
    )


def aggregates(spark, host: str, port: int, topic: str):
    from pyspark.sql import functions as F

    from zmaxion_spark.sources.kafka_source import stream_kafka_loopback
    from zmaxion_spark.streaming.sources import parse_kafka_topology

    raw = stream_kafka_loopback(spark, host, port, topic)
    return (
        parse_kafka_topology(raw, value_schema())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("amount_sum"),
            F.max("created_ms").alias("max_created_ms"),
        )
    )


def committed_offsets(checkpoint: str) -> dict[int, int]:
    """End offsets of the newest committed micro-batch, read from the
    stream checkpoint (``commits/<n>`` marks batch n done,
    ``offsets/<n>`` holds its end offsets as the last line)."""
    commits = os.path.join(checkpoint, "commits")
    done = [int(f) for f in os.listdir(commits) if f.isdigit()] if os.path.isdir(commits) else []
    if not done:
        return {}
    with open(os.path.join(checkpoint, "offsets", str(max(done)))) as f:
        last = f.read().strip().splitlines()[-1]
    return {int(k): int(v) for k, v in json.loads(last).items()}


def produce(client, topic: str, events) -> None:
    by_pid: dict[int, list] = {}
    for user, key, value in events:
        by_pid.setdefault(user % PARTITIONS, []).append((key, value))
    for pid, msgs in by_pid.items():
        for i in range(0, len(msgs), 5000):
            client.produce(topic, pid, msgs[i : i + 5000])


class OpenLoop(threading.Thread):
    """Produces ``rate`` events/s for ``seconds`` on a fixed schedule
    that does not slow when the system does. Event i is due at
    ``start + i / rate`` and carries that due time as ``created_ms``."""

    def __init__(self, client, source: EventSource, rate: int, seconds: float):
        super().__init__(name="perfbench-loadgen", daemon=True)
        self.client, self.source = client, source
        self.rate, self.total = rate, int(rate * seconds)
        self.sent = 0
        self.late_max_ms = 0.0
        self.produce_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            start_ms = time.time() * 1000.0
            while self.sent < self.total:
                now_ms = time.time() * 1000.0
                due = min(self.total, int((now_ms - start_ms) * self.rate / 1000.0) + 1)
                if due > self.sent:
                    created = [start_ms + i * 1000.0 / self.rate for i in range(self.sent, due)]
                    self.late_max_ms = max(self.late_max_ms, now_ms - created[0])
                    t = time.perf_counter()
                    produce(self.client, TOPIC, self.source.take(created))
                    self.produce_ms.append((time.perf_counter() - t) * 1000.0)
                    self.sent = due
                time.sleep(TICK_S)
        except BaseException as e:  # noqa: BLE001 - reported by the consumer
            self.error = e


class Progress:
    """Collects streaming query progress (traced run only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list = []
        sink = self.events

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def wait_for(self, n: int, timeout: float = 2.0) -> None:
        end = time.monotonic() + timeout
        while len(self.events) < n and time.monotonic() < end:
            time.sleep(0.05)

    def metrics(self) -> dict[str, float]:
        ev = [p for p in self.events if p.numInputRows > 0] or self.events

        def p50(key):
            xs = [p.durationMs.get(key, 0) for p in ev]
            return float(stats.median(xs)) if xs else 0.0

        state = [p.stateOperators[0] for p in ev if p.stateOperators]
        last = state[-1] if state else None
        return {
            "streaming.add_batch_ms": p50("addBatch"),
            "streaming.query_planning_ms": p50("queryPlanning"),
            "streaming.wal_commit_ms": p50("walCommit"),
            "streaming.commit_offsets_ms": p50("commitOffsets"),
            "sources.latest_offset_ms": p50("latestOffset"),
            "streaming.state_rows": float(last.numRowsTotal) if last else 0.0,
            "streaming.state_mem_mb": last.memoryUsedBytes / 1024.0**2 if last else 0.0,
            "streaming.state_commit_ms": float(
                stats.median([s.commitTimeMs for s in state])
            ) if state else 0.0,
        }


def run(work: str, seed: int, seconds: float, traced: bool, smoke: bool):
    import pandas as pd
    from pyspark.sql import functions as F

    from zmaxion_spark.sources.kafka_broker import KafkaWireClient, LoopbackKafkaBroker
    from zmaxion_spark.streaming.pipeline import run_foreach_batch
    from zmaxion_spark.txlog import TxTable

    backlog_n = SMOKE["backlog"] if smoke else BACKLOG
    warmup_n = SMOKE["warmup"] if smoke else WARMUP_EVENTS
    rate = SMOKE["rate"] if smoke else RATE
    read_rounds = SMOKE["read_rounds"] if smoke else READ_ROUNDS
    ops = harness.Ops()
    tracer = harness.Tracer(traced)
    source = EventSource(seed)

    broker = LoopbackKafkaBroker(n_partitions=PARTITIONS)
    client = KafkaWireClient(broker.host, broker.port)
    spark = None
    try:
        table = TxTable(os.path.join(work, "lake"), stat_cols=("user_id",))
        ckpt = os.path.join(work, "ckpt")
        commits: dict[int, tuple[int, float]] = {}  # batch -> (version, commit time)
        # Time per sink call. The micro-batch is computed lazily inside
        # append_batch's write, so this holds the batch's source fetch,
        # decode and aggregation too.
        append_ms: list[float] = []

        def sink(df, batch_id):
            t = time.perf_counter()
            with tracer.span("append_batch", op=f"batch{batch_id}"):
                v = table.append_batch(
                    df.withColumn("batch_id", F.lit(batch_id)), SOURCE, batch_id
                )
            append_ms.append((time.perf_counter() - t) * 1000.0)
            if v is not None:
                commits[batch_id] = (v, time.time())

        # -- setup: the session plus the pipeline's first trigger, which
        # creates the checkpoint, the state store and the lake -------------
        produce(client, TOPIC, source.take([time.time() * 1000.0] * warmup_n))
        tracer.enabled = False  # set-up is not traced
        t0 = time.perf_counter()
        spark = harness.start_spark()
        start_s = time.perf_counter() - t0
        sdf = aggregates(spark, broker.host, broker.port, TOPIC)
        run_foreach_batch(sdf, sink, mode="update", checkpoint=ckpt)
        setup_s = time.perf_counter() - t0
        ops.ok()
        pid = harness.jvm_pid()
        append_ms.clear()
        tracer.enabled = traced

        progress = counters = mark = None
        if traced:
            with tracer.hook():
                counters = harness.SparkCounters(spark)
                mark = counters.mark()
                progress = Progress(spark)

        backlog_max = 0
        trigger_s: list[float] = []

        def log_end():
            return {p: broker.log_end_offset(TOPIC, p) for p in range(PARTITIONS)}

        def one_trigger(op: str) -> float:
            """One ``run_foreach_batch`` call; returns its wall time."""
            nonlocal backlog_max
            backlog_max = max(backlog_max, stats.backlog(log_end(), committed_offsets(ckpt)))
            t = time.perf_counter()
            try:
                with tracer.span("trigger", op=op):
                    run_foreach_batch(sdf, sink, mode="update", checkpoint=ckpt)
                ops.ok()
            except Exception as e:  # noqa: BLE001 - count and go on
                ops.fail(f"trigger {op}", repr(e))
            trigger_s.append(time.perf_counter() - t)
            return trigger_s[-1]

        def drained() -> bool:
            return stats.backlog(log_end(), committed_offsets(ckpt)) == 0

        # -- phase A: backfill ---------------------------------------------
        with tracer.span("phase", op="backfill"):
            drain_s: list[float] = []
            batch_s: list[float] = []
            for i in range(BACKFILLS):
                produce(client, TOPIC, source.take([time.time() * 1000.0] * backlog_n))
                n0 = len(append_ms)
                drain_s.append(one_trigger(f"backfill{i}"))
                batch_s.append(sum(append_ms[n0:]) / 1000.0)
                ops.check(f"backfill {i} drained", drained(), "backlog left after the drain call")
            work_s = sum(batch_s) / len(batch_s)
        batches_a = max(commits) + 1
        n_before_live = len(trigger_s)

        # -- phase B: live open loop, then stop the generator and drain ------
        gen = OpenLoop(client, source, rate, seconds)
        with tracer.span("phase", op="live"):
            t_live = time.time()
            gen.start()
            while gen.is_alive():
                one_trigger(f"live{len(trigger_s)}")
            gen.join()
            for _ in range(5):
                if drained():
                    break
                one_trigger(f"drain{len(trigger_s)}")
        if gen.error is not None:
            ops.fail("load generator", repr(gen.error))
        ops.check("live backlog drained", drained(), "backlog left after the final drain")
        live_batches = sorted(b for b in commits if b >= batches_a)
        live_commit_end = max((commits[b][1] for b in live_batches), default=t_live)
        sustained = gen.sent / max(live_commit_end - t_live, 1e-9)

        # -- correctness: the lake against the generator's own tally ---------
        lake = table.read(spark).toPandas()
        latest = lake.sort_values("batch_id").groupby("user_id").last()
        want = pd.DataFrame.from_dict(
            source.tally, orient="index", columns=["n", "amount_sum", "max_created_ms"]
        )
        got = latest[want.columns].reindex(want.index)
        bad = int((got != want).any(axis=1).sum())
        ops.check("lake matches tally", bad == 0 and len(latest) == len(want),
                  f"{bad} users differ, {len(latest)} vs {len(want)} users")
        ops.check("exactly once", int(latest["n"].sum()) == source.next_id,
                  f"sum(n)={int(latest['n'].sum())} produced={source.next_id}")
        live = lake[lake["batch_id"] >= batches_a]
        latency = stats.join_commit_latency(
            zip(live["batch_id"].tolist(), live["max_created_ms"].tolist()),
            {b: c[1] for b, c in commits.items()},
        )

        # -- phase C: closed-loop reads ---------------------------------------
        rng = random.Random(seed)
        tt_batch = live_batches[0] if live_batches else 0
        tt_version = commits[tt_batch][0]
        lo = rng.randrange(0, 900_000)
        hi = lo + 99_999
        reads = {
            "head": (
                lambda: table.read(spark),
                lambda df: tuple(df.agg(F.count(F.lit(1)), F.sum("n")).first()),
                (len(lake), int(lake["n"].sum())),
            ),
            "band": (
                lambda: table.read(spark, prune=("user_id", lo, hi)),
                lambda df: df.where(F.col("user_id").between(lo, hi)).count(),
                int(lake["user_id"].between(lo, hi).sum()),
            ),
            "time_travel": (
                lambda: table.read(spark, version=tt_version),
                lambda df: df.count(),
                int((lake["batch_id"] <= tt_batch).sum()),
            ),
        }
        # The first round warms the read path up (its reads run about
        # twice as long) and is checked, not timed.
        read_ms: dict[str, list[float]] = {kind: [] for kind in reads}
        txread_ms: list[float] = []
        with tracer.span("phase", op="reads"):
            for r in range(read_rounds + 1):
                for kind, (open_, query, expect) in reads.items():
                    op = f"{kind}{r}"
                    t = time.perf_counter()
                    try:
                        with tracer.span("read", op=op):
                            with tracer.span("txtable_read", op=op):
                                df = open_()
                            txread_ms.append((time.perf_counter() - t) * 1000.0)
                            got = query(df)
                    except Exception as e:  # noqa: BLE001 - count and go on
                        ops.fail(f"read {op}", repr(e))
                        continue
                    if r > 0:
                        read_ms[kind].append((time.perf_counter() - t) * 1000.0)
                    ops.check(f"read {op}", got == expect, f"got {got}, want {expect}")

        layer: dict[str, float] = {}
        if traced:
            with tracer.hook():
                progress.wait_for(len(trigger_s))
                layer.update(progress.metrics())
                layer.update(counters.session_since(mark))
                layer.update(counters.python_since(mark))
                lf_ms = []
                for _ in range(3):
                    t = time.perf_counter()
                    files = table.live_files()
                    lf_ms.append((time.perf_counter() - t) * 1000.0)
                versions = len(table.versions())
            live_trig = trigger_s[n_before_live:]
            p99 = stats.tail(latency, 99)
            if p99 is not None:  # else too few samples: not reported
                layer["streaming.event_latency_p99_ms"] = p99
            layer.update({
                "sources.produce_ms": stats.median(gen.produce_ms) if gen.produce_ms else 0.0,
                "sources.backlog_max_events": float(backlog_max),
                "streaming.triggers": float(len(trigger_s)),
                "streaming.trigger_s": stats.median(live_trig),
                "streaming.drain_events_per_s": backlog_n * BACKFILLS / sum(drain_s),
                "streaming.sustained_events_per_s": sustained,
                "txlog.append_batch_ms_p50": stats.median(append_ms),
                "txlog.append_batch_ms_max": max(append_ms),
                "txlog.append_batch_ms_first": append_ms[0],
                "txlog.append_batch_ms_last": append_ms[-1],
                "txlog.versions": float(versions),
                "txlog.live_files": float(len(files)),
                "txlog.files_per_commit": len(files) / max(versions, 1),
                "txlog.read_ms": stats.median(txread_ms) if txread_ms else 0.0,
                "txlog.live_files_ms": stats.median(lf_ms),
                "loadgen.events": float(source.next_id),
                "loadgen.late_max_ms": gen.late_max_ms,
            })
            for kind, v in tracer.self_time_by_name().items():
                layer[f"self.{kind}_s"] = v
            layer["trace.hook_s"] = tracer.hook_s
            layer["trace.work_s"] = work_s
            layer["session.peak_rss_mb"] = harness.peak_rss_mb(pid)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        client.close()
        broker.stop()

    if not all(read_ms.values()) or not latency:
        raise RuntimeError("no read or no live result completed")
    e2e = {
        "setup_s": setup_s,
        "work_s": work_s,
        "op_ms": stats.geomean_of_medians(read_ms.values()),
        "latency_ms": stats.median(latency),
    }
    info = {
        "spark_start_s": round(start_s, 3),
        "backlog_events": backlog_n,
        "drain_s": [round(x, 3) for x in drain_s],
        "backfill_batch_s": [round(x, 3) for x in batch_s],
        "read_ms": {k: [round(x, 1) for x in xs] for k, xs in read_ms.items()},
        "live_events": gen.sent,
        "offered_events_per_s": rate,
        "sustained_events_per_s": round(sustained, 1),
        "live_trigger_s": [round(x, 2) for x in trigger_s[n_before_live:]],
        "latency_samples": len(latency),
        "batch_rows_latency_p50_ms": [
            [b, int(n), round(float(m), 1)] for b, (n, m) in live.assign(
                lat=latency
            ).groupby("batch_id")["lat"].agg(["size", "median"]).iterrows()
        ],
        "event_latency_p99_ms": stats.tail(latency, 99),
        "backlog_max_events": backlog_max,
    }
    return ops, tracer, e2e, layer, info
