"""etl_ticks — the Callio incremental write path, small deltas, many commits.

Set-up serves a seeded multi-tenant backlog of call-log and customer records
from two ``LocalCallioApiServer`` instances (one per entity, real HTTP), runs
the cold full load and one untimed round of the reads. The unit op is one
entity's durable loop tick; the entities take turns, and each tick of the
feed is one op per entity (``pass_len``). The op lands the entity's share of
a seeded delta on its server (new rows, updates of earlier ids, late rows
inside the overlap window), then runs under ``pipeline.single_writer_tick``:

    callio_paged_api fetch -> pipeline.run_tick per tenant (latest-per-key
    dedup + J8 MERGE) -> snapshot partition commit -> CheckpointStore.flush

and one filtered ``snapshot_read`` of the merged head per tenant counts as
a read.
"""

from __future__ import annotations

import time

from perfbench import gen
from perfbench.workloads.base import Workload

_SCHEMAS = {
    "call_log": "_id string, tenant string, ts_ms long, from_user long, "
                "to_number string, direction string, duration long, bill_duration long",
    "customer": "_id string, tenant string, ts_ms long, name string, phone string, "
                "status string, assigned_user long",
}
_BUCKETS = 8
_READ_WINDOW_MS = 2 * 3_600_000
#: Cold-start lookback of the checkpoint store: covers the 20-hour backlog.
_LOOKBACK_DAYS = 1
_ENTITIES = tuple(gen.ENTITY_FIELDS)


class EtlTicks(Workload):
    name = "etl_ticks"
    pass_len = len(_ENTITIES)

    def setup(self) -> None:
        from callio_etl_spark.pipeline import IncrementalTable
        from callio_etl_spark.sources.local_api_server import LocalCallioApiServer
        from callio_etl_spark.sources.paged_api import CallioPagedDataSource

        self.feed = gen.CallioFeed(self.seed)
        backlog = self.feed.initial()
        self.servers, self.urls = {}, {}
        for entity, rows in backlog.items():
            srv = LocalCallioApiServer(
                [dict(r) for r in rows], accounts={f"{entity}@bench": "pw"})
            self.urls[entity] = srv.start()
            self.servers[entity] = srv
        self.spark.dataSource.register(CallioPagedDataSource)
        self.tables = {
            e: IncrementalTable(name=e, keys=["tenant", "_id"], time_col_ms="ts_ms")
            for e in gen.ENTITY_FIELDS
        }
        self.paths = {e: f"{self.work}/warehouse/{e}" for e in gen.ENTITY_FIELDS}
        self.log_path = f"{self.work}/warehouse/update_log"
        with self.tracer.span("setup.cold_load"):
            for entity, rows in backlog.items():
                self._entity_tick(entity, len(rows))
        with self.tracer.span("setup.warm_reads"):
            self._reads()
        self.reads.clear()
        self.ops = 0

    # ------------------------------------------------------------- a tick
    def _store(self):
        from callio_etl_spark.checkpoints import CheckpointStore

        return CheckpointStore(self.spark, self.log_path, overlap_ms=gen.OVERLAP_MS,
                               lookback_days=_LOOKBACK_DAYS)

    def _fetch(self, entity: str, cutoff_ms: int):
        import pyspark.sql.functions as F

        fields = gen.ENTITY_FIELDS[entity]
        payload = [f for f in fields if f not in ("_id", "tenant")]
        return (
            self.spark.read.format("callio_paged_api")
            .option("base_url", self.urls[entity])
            .option("endpoint", entity)
            .option("email", f"{entity}@bench")
            .option("password", "pw")
            .option("window_end_ms", self.feed.clock_ms)
            .option("cutoff_ms", max(0, cutoff_ms))
            .option("page_size", 500)
            .option("api_schema", _SCHEMAS[entity])
            .load()
            .select(
                *fields,
                F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in payload]))
                .alias("row_hash"),
                (F.crc32("_id") % _BUCKETS).cast("int").alias("pbkt"),
            )
        )

    def _entity_tick(self, entity: str, delivered: int) -> None:
        import pyspark.sql.functions as F

        from callio_etl_spark.io import assert_service_fencing
        from callio_etl_spark.pipeline import run_tick, single_writer_tick
        from callio_etl_spark.snapshots import (
            snapshot_has_published_head,
            snapshot_partition_overwrite,
            snapshot_read,
        )

        tr, spark, path = self.tracer, self.spark, self.paths[entity]
        table, clock = self.tables[entity], self.feed.clock_ms
        store = self._store()
        srv = self.servers[entity]
        with single_writer_tick(spark, path):
            with tr.span("checkpoints.warm"):
                store.warm()
            cutoff = min(store.cutoff_ms(entity, t, clock) for t in gen.TENANTS)
            req0, log0 = srv.requests, srv.logins
            with tr.span("sources.fetch") as sp:
                batch = self._fetch(entity, cutoff).localCheckpoint(eager=True)
            if sp is not None:
                sp["http_requests"] = srv.requests - req0
                sp["logins"] = srv.logins - log0
                sp["rows_useful"] = delivered
                with tr.probe():
                    sp["rows_fetched"] = batch.count()
            touched = [r["pbkt"] for r in batch.select("pbkt").distinct().collect()]
            if not touched:
                return
            target = None
            if snapshot_has_published_head(spark, path):
                target = snapshot_read(spark, path).where(F.col("pbkt").isin(touched))
            cks = {}
            with tr.span("pipeline.run_tick"):
                merged = target
                for tenant in gen.TENANTS:
                    merged, cks[tenant] = run_tick(
                        spark, store, table, batch, merged, tenant, now_ms=clock)
            assert_service_fencing(spark, path)
            if any(ck is not None for ck in cks.values()):
                with tr.span("merge.write"):
                    snapshot_partition_overwrite(spark, merged, path, "pbkt", keep_snapshots=3)
            for tenant, ck in cks.items():
                if ck is not None:
                    store.set(entity, tenant, ck)
            assert_service_fencing(spark, path)
            with tr.span("checkpoints.flush"):
                store.flush()
            store.compact_if_needed()

    def _read(self, entity: str, tenant: str) -> None:
        import pyspark.sql.functions as F

        from callio_etl_spark.snapshots import snapshot_read

        lo = self.feed.clock_ms - _READ_WINDOW_MS
        t0 = time.perf_counter()
        with self.tracer.span("etl_ticks.read"):
            got = (snapshot_read(self.spark, self.paths[entity])
                   .where((F.col("tenant") == tenant) & (F.col("ts_ms") > lo))
                   .count())
        self.reads.append(time.perf_counter() - t0)
        want = sum(1 for (t, _), r in self.feed.latest[entity].items()
                   if t == tenant and r["ts_ms"] > lo)
        if got != want:
            self.mismatch(f"read {entity}/{tenant}: {got} rows, expected {want}")

    def op(self, rec: dict) -> None:
        entity = _ENTITIES[self.ops % len(_ENTITIES)]
        if entity == _ENTITIES[0]:
            self.delta = self.feed.delta()
        rows = self.delta[entity]
        self.servers[entity].rows = _land(self.servers[entity].rows, rows)
        rec["entity"], rec["rows"] = entity, len(rows)
        self._entity_tick(entity, len(rows))
        for tenant in gen.TENANTS:
            self._read(entity, tenant)
        self.ops += 1

    def _reads(self) -> None:
        for entity in gen.ENTITY_FIELDS:
            for tenant in gen.TENANTS:
                self._read(entity, tenant)

    # -------------------------------------------------------------- oracle
    def verify(self) -> None:
        """Final warehouse == newest-per-key over every generated record
        (DuckDB, from the generator's history), and each checkpoint == the
        newest event time delivered for its (entity, tenant)."""
        import duckdb
        import pyarrow as pa

        from callio_etl_spark.snapshots import snapshot_read

        store = self._store()
        store.warm()
        con = duckdb.connect()
        try:
            for entity, fields in gen.ENTITY_FIELDS.items():
                hist = pa.Table.from_pylist(self.feed.history[entity])  # noqa: F841
                want = con.execute(
                    f"SELECT {', '.join(fields)} FROM hist "
                    "QUALIFY row_number() OVER (PARTITION BY tenant, _id "
                    "ORDER BY ts_ms DESC) = 1").fetchall()
                got = [tuple(r) for r in snapshot_read(self.spark, self.paths[entity])
                       .select(*fields).collect()]
                if sorted(got) != sorted(want):
                    self.mismatch(f"warehouse {entity}: {len(got)} rows vs "
                                  f"{len(want)} newest-per-key rows")
                for tenant in gen.TENANTS:
                    ck, want_ck = store.get(entity, tenant), self.feed.max_ts[(entity, tenant)]
                    if ck != want_ck:
                        self.mismatch(f"checkpoint {entity}/{tenant}: {ck} != {want_ck}")
        finally:
            con.close()

    def close(self) -> None:
        for srv in getattr(self, "servers", {}).values():
            srv.stop()


def _land(rows: list[dict], delta: list[dict]) -> list[dict]:
    """The upstream API after a delta: one row per ``(tenant, _id)``, the
    newest version, kept in the API's descending ``(ts_ms, _id)`` order."""
    by_key = {(r["tenant"], r["_id"]): r for r in rows}
    for r in delta:
        k = (r["tenant"], r["_id"])
        if k not in by_key or r["ts_ms"] > by_key[k]["ts_ms"]:
            by_key[k] = dict(r)
    return sorted(by_key.values(), key=lambda r: (-int(r["ts_ms"]), str(r["_id"])))
