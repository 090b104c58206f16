"""The benchmark's workloads, each a closed loop driven by one client.

A workload is prepared once after the session is up, then runs *rounds*:
the first round is the untimed warm-up, later rounds are timed. Every
operation is timed from the call into the package to the end of its
``collect()``; its output is kept and checked after the timed loop.
"""

from __future__ import annotations

import os
import time

import gen
import oracle
from tracing import Tracer

# Every run re-pays the JVM start and a cold round of each query (JIT,
# codegen, Python workers), and a full set of runs has to stay within an
# hour on a 4-core box, so the heaviest, output-bound rows are left out.
LLM_QUERIES = (
    "knn_cosine_top10",  # Arrow cosine kernel
    "knn_sq8_top10",  # int8 quantised scan
    "knn_pq_adc_top10",  # driver-side PQ training, ADC scan
    "semdedup_survivors",  # k-means + semantic dedup
    "dedup_exact_docs",  # exact dedup
    "docs_segment_dedup",  # segment-level dedup
    "pretrain_corpus_report",  # text quality pipeline
)

# realtime_delays: polling cycles per scheduled run, and scheduled runs
# between two compactions of the lakehouse table.
CYCLES_PER_RUN = 1
COMPACT_EVERY = 2


class Outcome:
    """What one round did: query walls, cycle walls (micro-batches, or the
    round itself), failures and operations attempted."""

    def __init__(self):
        self.query_s: list[float] = []
        self.query_names: list[str] = []
        self.cycle_s: list[float] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.passages = 0  # realtime_delays: passages committed this round


class RegistryWorkload:
    """Registry queries over one generated directory, every query once per
    round, in an order drawn from the seed."""

    # Timed rounds per run, at least. Three make the round median a real
    # median and give every query three samples; on a shared host the
    # timed window is what averages out short swings in CPU speed.
    min_rounds = 3

    def __init__(self, queries: tuple[str, ...], tables, data_dir: str, facts: dict, rng):
        self.queries, self.tables = queries, tables
        self.data_dir = data_dir
        self.facts = facts
        self.rng = rng
        self.results: list[tuple[str, list[str], list]] = []  # (query, columns, rows)

    def prepare(self, spark) -> None:
        from transilien_api_etl_spark import plans

        self.spark = spark
        self.fns = plans.queries()

    def round(self, tracer: Tracer) -> Outcome:
        out = Outcome()
        t_round = time.perf_counter()
        for i in self.rng.permutation(len(self.queries)):
            name = self.queries[i]
            out.attempted += 1
            try:
                with tracer.op(name):
                    t0 = time.perf_counter()
                    with tracer.span("plans.build", key=name):
                        df = self.fns[name](self.spark, self.data_dir)
                    with tracer.span("plans.action", key=name):
                        rows = df.collect()
                    out.query_s.append(time.perf_counter() - t0)
                    out.query_names.append(name)
                tracer.fold_plan(df._jdf.queryExecution())
                tracer.add("plans.result_rows", len(rows))
                self.results.append((name, df.columns, rows))
            except Exception as e:  # noqa: BLE001 - one failed query must not end the run
                out.failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        out.cycle_s.append(time.perf_counter() - t_round)
        return out

    def check(self) -> list[str]:
        from transilien_api_etl_spark import plans

        specs = {n: plans.REGISTRY[n] for n in self.queries}
        expect = oracle.registry_oracles(self.data_dir, self.tables, specs)
        bad = []
        for name, columns, rows in self.results:
            want = expect[name]
            d = want if isinstance(want, str) else oracle.diff(oracle.spark_rows(columns, rows), want)
            if d is not None:
                bad.append(f"{name}: differs from oracle: {d[:300]}")
        return bad

    def finish(self) -> dict:
        return {}


def llm_curation(data_dir: str, seed: int, rng) -> RegistryWorkload:
    facts = gen.gen_corpus(seed, data_dir)
    return RegistryWorkload(LLM_QUERIES, oracle.CORPUS_TABLES, data_dir, facts, rng)


def _dir_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


class RealtimeDelays:
    """Scheduled ``availableNow`` runs of a file stream over the polling
    cycles: parse, normalise and MERGE each cycle into the lakehouse, then
    read the delay board from the snapshot."""

    # Each round consumes one generated polling cycle and costs as much as
    # a whole llm_curation round; two keep a run within the time budget.
    min_rounds = 2

    def __init__(self, data_dir: str, seed: int, rng):
        self.data_dir = data_dir
        self.facts = gen.gen_transit(seed, data_dir)
        self.pending = sorted(os.listdir(f"{data_dir}/cycles"))
        self.inbox = f"{data_dir}/inbox"
        self.table = f"{data_dir}/lake/passages"
        self.ckpt = f"{data_dir}/checkpoint"
        os.makedirs(self.inbox)
        self.runs = 0
        self.consumed = 0
        self.passages = 0
        self.last_board = None
        self.passages_per_cycle = self._passages_per_cycle()

    def _passages_per_cycle(self) -> list[int]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cyc = pq.read_table(f"{self.data_dir}/truth.parquet", columns=["cycle"])["cycle"]
        counts = pc.value_counts(cyc).to_pylist()
        per = [0] * len(self.pending)
        for c in counts:
            per[c["values"]] = c["counts"]
        return per

    def prepare(self, spark) -> None:
        from transilien_api_etl_spark.operators.delays import MATCH_KEY
        from transilien_api_etl_spark.sources import lakehouse
        from transilien_api_etl_spark.sources.gtfs import load_gtfs
        from transilien_api_etl_spark.sources.realtime import normalize_passages, parse_passages

        self.spark = spark
        raw_schema = "station string, xml string"
        schema = normalize_passages(parse_passages(spark.createDataFrame([], raw_schema))).schema
        lakehouse.create_table(spark, self.table, spark.createDataFrame([], schema), MATCH_KEY)
        self.gtfs = load_gtfs(spark, f"{self.data_dir}/gtfs")
        self.stream = normalize_passages(
            parse_passages(
                spark.readStream.schema(raw_schema).option("maxFilesPerTrigger", 1).parquet(self.inbox)
            )
        )
        self.sink = lakehouse.stream_merge_sink(self.table)

    def _traced_sink(self, tracer: Tracer):
        """foreachBatch sink that materialises the parsed micro-batch first,
        so that the XML parse and the MERGE are timed apart."""
        from pyspark.sql import functions as F

        from transilien_api_etl_spark.sources import lakehouse

        def write(batch_df, batch_id):
            with tracer.span("realtime.parse"):
                parsed = batch_df.localCheckpoint(eager=True)
            # The micro-batch arrives as an RDD scan: the parse ran inside
            # the stream's own execution of this batch, which holds its metrics.
            (query,) = self.spark.streams.active
            tracer.fold_plan(query._jsq.streamingQuery().lastExecution())
            n = parsed.count()
            stations = parsed.select(F.countDistinct("station")).first()[0]
            tracer.add("realtime.passages", n)
            tracer.add("realtime.payloads_parsed", stations)
            before = lakehouse.load_snapshot(self.table)
            with tracer.span("lakehouse.merge"):
                self.sink(parsed, batch_id)
            after = lakehouse.load_snapshot(self.table)
            old = {e["path"] for e in before.files}
            new = [e for e in after.files if e["path"] not in old]
            tracer.add("lakehouse.files_rewritten", len(old - {e["path"] for e in after.files}))
            tracer.add("lakehouse.bytes_written", _dir_bytes(f"{self.table}/{e['path']}" for e in new))
            tracer.add("lakehouse.rows_written", sum(e["rows"] for e in new))
            tracer.add("lakehouse.rows_merged", n)

        return write

    def _run_stream(self, tracer: Tracer, out: Outcome) -> None:
        import json

        import pyarrow.parquet as pq

        batch = self.pending[self.consumed : self.consumed + CYCLES_PER_RUN]
        first = self.consumed
        self.consumed += len(batch)  # in the inbox now, whether or not the run succeeds
        for f in batch:
            os.replace(f"{self.data_dir}/cycles/{f}", f"{self.inbox}/{f}")
            tracer.add("realtime.payloads", pq.read_metadata(f"{self.inbox}/{f}").num_rows)
        sink = self._traced_sink(tracer) if tracer.enabled else self.sink
        t0 = time.perf_counter()
        with tracer.span("streaming.run"):
            q = (
                self.stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
        busy = 0.0
        for p in progress:
            d = p.get("durationMs", {})
            trig = d.get("triggerExecution", 0) / 1e3
            busy += trig
            if p.get("numInputRows", 0) > 0:
                out.cycle_s.append(trig)
                tracer.add("streaming.batches", 1)
                tracer.add("streaming.batch_s", trig)
                tracer.add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
                tracer.add(
                    "streaming.offsets_s",
                    (d.get("latestOffset", 0) + d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                )
        tracer.add("streaming.start_s", max(0.0, wall - busy))
        out.passages = sum(self.passages_per_cycle[first : self.consumed])
        self.passages += out.passages

    def _read_board(self, tracer: Tracer):
        from transilien_api_etl_spark.operators.delays import delay_board, delay_stats
        from transilien_api_etl_spark.sources import lakehouse
        from transilien_api_etl_spark.sources.gtfs import scheduled_departures

        with tracer.span("gtfs.build"):
            sched = scheduled_departures(self.gtfs, gen.SERVICE_DAY).withColumnRenamed("stop_id", "station7")
        with tracer.span("lakehouse.read"):
            observed = lakehouse.read_table(self.spark, self.table)
        with tracer.span("operators.build"):
            df = delay_stats(delay_board(sched, observed), ["station7"])
        with tracer.span("board.action"):
            rows = df.collect()
        return df, rows

    def round(self, tracer: Tracer) -> Outcome:
        from transilien_api_etl_spark.sources import lakehouse

        out = Outcome()
        if self.consumed >= len(self.pending):
            raise RuntimeError("realtime_delays ran out of generated polling cycles")
        self.runs += 1
        out.attempted += 1
        try:
            with tracer.op(f"stream{self.runs}"):
                self._run_stream(tracer, out)
        except Exception as e:  # noqa: BLE001
            out.failures.append(f"stream{self.runs}: {type(e).__name__}: {str(e)[:200]}")
        if self.runs % COMPACT_EVERY == 0:
            out.attempted += 1
            try:
                with tracer.op(f"compact{self.runs}"), tracer.span("lakehouse.compact"):
                    lakehouse.compact(self.spark, self.table)
            except Exception as e:  # noqa: BLE001
                out.failures.append(f"compact{self.runs}: {type(e).__name__}: {str(e)[:200]}")
        out.attempted += 1
        try:
            with tracer.op(f"board{self.runs}"):
                t0 = time.perf_counter()
                df, rows = self._read_board(tracer)
                out.query_s.append(time.perf_counter() - t0)
                out.query_names.append("board")
            tracer.fold_plan(df._jdf.queryExecution())
            tracer.add("lakehouse.read_files", len(lakehouse.load_snapshot(self.table).files))
            self.last_board = (df.columns, rows, self.consumed)
        except Exception as e:  # noqa: BLE001
            out.failures.append(f"board{self.runs}: {type(e).__name__}: {str(e)[:200]}")
        return out

    def check(self) -> list[str]:
        from transilien_api_etl_spark.sources import lakehouse

        bad = []
        cols = ["station7", "train_num", "expected_ts", "status"]
        snap = lakehouse.read_table(self.spark, self.table).select(*cols).collect()
        expect = oracle.realtime_truth(self.data_dir, gen.SERVICE_DAY, self.consumed)
        d = oracle.diff(oracle.spark_rows(cols, snap), expect["snapshot"])
        if d is not None:
            bad.append(f"snapshot: differs from truth: {d[:300]}")
        if self.last_board is None:
            bad.append("board: never read")
            return bad
        columns, rows, after_cycles = self.last_board
        if after_cycles != self.consumed:
            bad.append("board: last read does not follow the last merge")
        elif (d := oracle.diff(oracle.spark_rows(columns, rows), expect["board"])) is not None:
            bad.append(f"board: differs from truth: {d[:300]}")
        return bad

    def finish(self) -> dict:
        from transilien_api_etl_spark.sources import lakehouse

        snap = lakehouse.load_snapshot(self.table)
        live_rows = sum(e["rows"] for e in snap.files)
        live_bytes = _dir_bytes(f"{self.table}/{e['path']}" for e in snap.files)
        return {
            "cycles_merged": self.consumed,
            "passages_merged": self.passages,
            "lake_files_live": len(snap.files),
            "lake_bytes_per_passage": live_bytes / max(1, live_rows),
        }


WORKLOADS = {
    "llm_curation": llm_curation,
    "realtime_delays": RealtimeDelays,
}
