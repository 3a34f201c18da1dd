"""The two workloads. Each exposes:

* ``setup(spark)``: generate the seeded inputs and prepare state;
* ``warmup()``: the one untimed op that ends set-up;
* ``round(r)``: the ops of round ``r``, as ``(label, fn)`` pairs;
* ``probes()``: ops that only a traced run makes, once each;
* ``verify()``: untimed checks after the timed phase, returning the
  op labels whose outputs failed (``"*"`` fails every op);
* ``layer_extras(tracer)``: workload-level per-layer metrics;
* ``stored_bytes()`` / ``input_bytes``: for ``stored_bytes_per_input_byte``.

Ops call the package's public functions through ``Tracer.call``,
``Tracer.construct`` and ``Tracer.span``; with tracing off those are
plain calls.
"""

from __future__ import annotations

import os
import shutil
import traceback

from . import gen

ETL_SPANS = (
    "sources.csv.read",
    "sources.report.report_pipeline",
    "plans.ingest.load_with_audit",
    "plans.ingest.audit_append",
    "plans.ods.build_fact",
    "plans.ods.load_fact",
    "plans.bi.refresh",
)
BI_SPANS = (
    "operators.windows",
    "operators.joins",
    "operators.aggregates",
    "operators.topk",
    "plans.analytics",
)
CORPUS_SPANS = (
    "operators.curate.full_curation",
    "streaming.pipeline.neardup_stream",
    "streaming.pipeline.phash_stream",
    "streaming.pipeline.ann_stream",
    "operators.dedup.index_lifecycle",
)
ALL_SPANS = ETL_SPANS + BI_SPANS + CORPUS_SPANS


# --------------------------------------------------------------------------
# etl_daily
# --------------------------------------------------------------------------

QUOTE_SCHEMA = (
    "contract STRING, timing STRING, mo STRING, last STRING, change STRING, "
    "prev_open STRING, high STRING, low STRING, prev STRING, volume STRING, "
    "oi STRING, snapshot_date DATE"
)
COT_SCHEMA = "date_actual TIMESTAMP, player STRING, cit_long LONG, cit_short LONG, cit_net LONG"

FACT_SQL = """
WITH q AS (
  SELECT snapshot_date AS date_actual, contract,
    COALESCE(LEAD(contract, 1) OVER w_mo, 'NaN') AS prev_contract,
    CAST(mo AS INT) AS mo, CAST(last AS DOUBLE) AS last,
    LEAD(CAST(last AS DOUBLE), 1) OVER w_mo AS prev_last,
    change, prev_open, high, low, prev,
    CAST(volume AS BIGINT) AS volume, CAST(oi AS BIGINT) AS oi,
    ROUND(CAST(last AS DOUBLE) - LAG(CAST(last AS DOUBLE), 1) OVER w_day, 2) AS spread,
    CAST(SUM(CAST(CAST(last AS DOUBLE) AS DECIMAL(38,6)))
         OVER (w_mo ROWS BETWEEN 200 PRECEDING AND CURRENT ROW) AS DOUBLE)
      / COUNT(last) OVER (w_mo ROWS BETWEEN 200 PRECEDING AND CURRENT ROW) AS ma_200,
    CAST(SUM(CAST(CAST(last AS DOUBLE) AS DECIMAL(38,6)))
         OVER (w_mo ROWS BETWEEN 50 PRECEDING AND CURRENT ROW) AS DOUBLE)
      / COUNT(last) OVER (w_mo ROWS BETWEEN 50 PRECEDING AND CURRENT ROW) AS ma_50
  FROM stg_quotes
  WINDOW w_mo AS (PARTITION BY mo ORDER BY snapshot_date),
         w_day AS (PARTITION BY snapshot_date ORDER BY CAST(mo AS INT) DESC)
)
SELECT d.date_id, c.contract_id, p.contract_id AS prev_contract_id,
       q.prev_open, q.prev, q.mo, q.last, q.prev_last, q.change, q.high, q.low,
       q.volume, q.oi, q.spread, q.ma_200, q.ma_50
FROM q
LEFT JOIN ods_date d USING (date_actual)
LEFT JOIN ods_contract c ON q.contract = c.contract_code
LEFT JOIN ods_contract p ON q.prev_contract = p.contract_code
"""

_MA = (
    "CAST(SUM(CAST(last AS DECIMAL(38,6))) OVER (PARTITION BY mo ORDER BY date_actual "
    "ROWS BETWEEN {n} PRECEDING AND CURRENT ROW) AS DOUBLE) / COUNT(last) OVER "
    "(PARTITION BY mo ORDER BY date_actual ROWS BETWEEN {n} PRECEDING AND CURRENT ROW)"
)
_DSUM = "CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE)"
BI_SQL = {
    "ma_series": (
        f"SELECT mo, date_actual, last AS price, {_MA.format(n=200)} AS ma_200, "
        f"{_MA.format(n=50)} AS ma_50 FROM prices",
        ["mo", "date_actual"],
    ),
    "price_spread_by_date": (
        "SELECT date_actual, MAX(last) - MIN(last) AS spread_max_min, "
        "COUNT(*) AS n_contracts FROM prices GROUP BY date_actual",
        ["date_actual"],
    ),
    "calendar_spread_by_date": (
        "SELECT date_actual, arg_max(last, mo) - arg_min(last, mo) AS spread_max_min, "
        "COUNT(*) AS n_contracts FROM prices GROUP BY date_actual",
        ["date_actual"],
    ),
    "cot_totals_by_date": (
        f"SELECT date_actual, {_DSUM.format(c='cit_long')} AS cit_long, "
        f"{_DSUM.format(c='cit_short')} AS cit_short, "
        f"{_DSUM.format(c='cit_net')} AS cit_net FROM cot GROUP BY date_actual",
        ["date_actual"],
    ),
    "cot_by_player": (
        "SELECT date_actual, player, cit_long, cit_short, cit_long + cit_short AS cit_net FROM cot",
        ["date_actual", "player"],
    ),
}


def frames_equal(got, want, keys) -> str | None:
    """None when two pandas frames hold the same rows, else a one-line
    reason. Rows are paired after sorting both frames on ``keys`` and
    compared as ``testing.compare`` compares them, floats within its
    tolerance."""
    from building_coffee_commodity_trading_data_warehouse_spark.testing.compare import (
        _canon,
        _values_equal,
    )

    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} != {cols}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"

    def rows(df):
        df = df.sort_values(keys)[cols].astype(object)
        return [tuple(_canon(v) for v in r) for r in df.itertuples(index=False, name=None)]

    for a, b in zip(rows(got), rows(want)):
        if not _values_equal(a, b):
            return f"row {a!r} != {b!r}"
    return None


class EtlDaily:
    """STG → ODS → BI: one op is one trading day's delivery."""

    name = "etl_daily"
    repeatable = False
    HISTORY = 12  # trading days loaded during set-up
    MAX_DELIVERIES = 96

    def __init__(self, root: str, seed: int, tracer):
        self.root, self.seed, self.t = root, seed, tracer
        self.inp = os.path.join(root, "input")
        self.out = os.path.join(root, "warehouse")
        self.p = {
            k: os.path.join(self.out, k)
            for k in ("stg_quotes", "stg_ohlcv", "stg_cot", "stg_usda", "audit", "ods_fact", "bi")
        }
        self.input_bytes = 0
        self.delivered_bytes_traced = 0
        self.reports = []  # (LoadReport, expected source rows, expected target rows)
        self.expect = {"stg_quotes": 0, "stg_ohlcv": 0, "stg_cot": 0, "stg_usda": 0}
        self.next_delivery = 0
        self.last_files = None

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        self.plan = gen.EtlPlan(self.seed, self.HISTORY, self.MAX_DELIVERIES)
        self.history = self.plan.write_history(os.path.join(self.inp, "history"))
        dims = os.path.join(self.out, "dims")
        os.makedirs(dims, exist_ok=True)
        self.plan.write_dims(dims)
        self.ods_date = spark.read.parquet(os.path.join(dims, "ods_date.parquet"))
        self.ods_contract = spark.read.parquet(os.path.join(dims, "ods_contract.parquet"))
        self._F = F
        self.deliver(self.history, history=True)

    def _delivery(self):
        k = self.next_delivery
        self.next_delivery += 1
        return self.plan.write_delivery(os.path.join(self.inp, f"day_{k:03d}"), k)

    def warmup(self) -> None:
        """The history batch delivered in set-up is the warm-up op."""

    def round(self, r: int):
        return [(f"delivery_slot{j}", self._next_op) for j in range(gen.ROUND_LEN)]

    def _next_op(self) -> None:
        self.deliver(self._delivery())

    def probes(self):
        return []

    # -- one delivery ---------------------------------------------------------
    def _load(self, df, target, keys, source, src_rows, new_rows, day, partition_by=None):
        from building_coffee_commodity_trading_data_warehouse_spark.plans import ingest

        t = self.t
        self.expect[target] += new_rows
        rep = t.call(
            "plans.ingest.load_with_audit", ingest.load_with_audit, self.spark, df,
            self.p[target], keys, "stg", source, target, day, partition_by=partition_by,
        )
        self.reports.append((rep, src_rows, self.expect[target]))
        t.call("plans.ingest.audit_append", ingest.audit_append, self.spark, rep, self.p["audit"])

    def deliver(self, f: dict, history: bool = False) -> None:
        from building_coffee_commodity_trading_data_warehouse_spark.plans import bi, ods
        from building_coffee_commodity_trading_data_warehouse_spark.sources import csv as csvsrc
        from building_coffee_commodity_trading_data_warehouse_spark.sources import report

        F, t, spark, day = self._F, self.t, self.spark, f["day"]
        size = sum(os.path.getsize(v) for k, v in f.items() if k in ("quotes", "kc", "cot", "report"))
        self.input_bytes += size
        if t.enabled:
            self.delivered_bytes_traced += size
        n_days = self.HISTORY if history else 1

        quotes = t.call("sources.csv.read", csvsrc.read_csv, spark, f["quotes"], QUOTE_SCHEMA)
        # lineage: the day a row was delivered partitions the staging
        # table, so a correction of an earlier day lands in a new
        # partition and merge_into must find and rewrite the stale one
        quotes = quotes.withColumn(
            "delivered_on", F.col("snapshot_date") if history else F.lit(day).cast("date")
        )
        self._load(quotes, "stg_quotes", ["contract", "snapshot_date"], "barchart",
                   f["quote_rows"], n_days * len(gen.MONTHS), day, partition_by="delivered_on")
        kc = t.call("sources.csv.read", csvsrc.read_ohlcv, spark, f["kc"])
        self._load(kc, "stg_ohlcv", ["Date"], "kc_f", f["kc_rows"], f["kc_rows"], day)
        if "cot" in f:
            cot = t.call("sources.csv.read", csvsrc.read_csv, spark, f["cot"], COT_SCHEMA)
            self._load(cot, "stg_cot", ["date_actual", "player"], "cftc_cot",
                       f["cot_rows"], f["cot_rows"], day)
        if "report_dir" in f:
            usda = t.call(
                "sources.report.report_pipeline", report.report_pipeline, spark,
                f["report_dir"], snapshot_date=day, report_date=day,
            )
            self._load(usda, "stg_usda", ["country", "report_date"], "usda",
                       f["report_rows"], f["report_rows"], day)

        fact = t.call(
            "plans.ods.build_fact",
            lambda: ods.build_fact(
                spark.read.parquet(self.p["stg_quotes"]), self.ods_date, self.ods_contract
            ),
        )
        t.call("plans.ods.load_fact", ods.load_fact, fact, self.p["ods_fact"])

        with t.span("plans.bi.refresh"):
            prices = spark.read.parquet(self.p["ods_fact"]).select(
                F.to_date(F.col("date_id").cast("string"), "yyyyMMdd").alias("date_actual"),
                "mo",
                "last",
            )
            cot = spark.read.parquet(self.p["stg_cot"])
            outs = {
                "ma_series": t.construct(bi.ma_series, prices),
                "price_spread_by_date": t.construct(bi.price_spread_by_date, prices),
                "calendar_spread_by_date": t.construct(bi.calendar_spread_by_date, prices),
                "cot_totals_by_date": t.construct(bi.cot_totals_by_date, cot),
                "cot_by_player": t.construct(bi.cot_by_player, cot),
            }
            for name, df in outs.items():
                df.write.mode("overwrite").parquet(os.path.join(self.p["bi"], name))
        self.last_files = f

    # -- verification -----------------------------------------------------------
    def _snapshot(self, con, path):
        return con.execute(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true) "
            "ORDER BY ALL"
        ).fetchdf()

    def verify(self) -> dict[str, str]:
        import duckdb

        from building_coffee_commodity_trading_data_warehouse_spark.plans import ingest
        from building_coffee_commodity_trading_data_warehouse_spark.sources import csv as csvsrc

        errors: dict[str, str] = {}
        for rep, src_rows, tgt_rows in self.reports:
            if (rep.source_row, rep.target_row) != (src_rows, tgt_rows):
                errors["*"] = (
                    f"LoadReport {rep.target_name}@{rep.snapshot_date}: "
                    f"{rep.source_row}/{rep.target_row} != {src_rows}/{tgt_rows}"
                )
        con = duckdb.connect()
        try:
            pq = lambda p: f"read_parquet('{p}/**/*.parquet', hive_partitioning=true)"  # noqa: E731
            con.execute(f"CREATE VIEW stg_quotes AS SELECT * FROM {pq(self.p['stg_quotes'])}")
            con.execute(
                "CREATE VIEW ods_date AS SELECT * FROM "
                f"'{os.path.join(self.out, 'dims', 'ods_date.parquet')}'"
            )
            con.execute(
                "CREATE VIEW ods_contract AS SELECT * FROM "
                f"'{os.path.join(self.out, 'dims', 'ods_contract.parquet')}'"
            )
            con.execute(f"CREATE VIEW fact AS SELECT * FROM {pq(self.p['ods_fact'])}")
            con.execute(f"CREATE VIEW cot AS SELECT * FROM {pq(self.p['stg_cot'])}")
            con.execute(
                "CREATE VIEW prices AS SELECT CAST(strptime(CAST(date_id AS VARCHAR), '%Y%m%d') AS DATE) "
                "AS date_actual, mo, last FROM fact"
            )
            staged = con.execute(
                "SELECT contract, CAST(snapshot_date AS VARCHAR), CAST(last AS DOUBLE) "
                "FROM stg_quotes ORDER BY ALL"
            ).fetchall()
            if staged != self.plan.expected_quotes():
                errors["*"] = "stg_quotes does not hold the delivered quotes with corrections applied"
            for table, n in self.expect.items():
                got = con.execute(f"SELECT count(*) FROM {pq(self.p[table])}").fetchone()[0]
                if got != n:
                    errors["*"] = f"{table} has {got} rows, expected {n}"
            audit = con.execute(f"SELECT count(*) FROM {pq(self.p['audit'])}").fetchone()[0]
            if audit != len(self.reports):
                errors["*"] = f"audit has {audit} rows for {len(self.reports)} loads"
            fact_cols = "date_id, contract_id, prev_contract_id, prev_open, prev, mo, last, prev_last, change, high, low, volume, oi, spread, ma_200, ma_50"
            why = frames_equal(
                con.execute(f"SELECT {fact_cols} FROM fact").fetchdf(),
                con.execute(FACT_SQL).fetchdf(),
                ["date_id", "mo"],
            )
            if why:
                errors["*"] = f"ods fact vs DuckDB recompute: {why}"
            for name, (sql, keys) in BI_SQL.items():
                why = frames_equal(
                    con.execute(f"SELECT * FROM {pq(os.path.join(self.p['bi'], name))}").fetchdf(),
                    con.execute(sql).fetchdf(),
                    keys,
                )
                if why:
                    errors["*"] = f"bi {name} vs DuckDB recompute: {why}"
            # re-delivering the last batch must leave the target unchanged
            before = self._snapshot(con, self.p["stg_quotes"])
            f, F = self.last_files, self._F
            again = csvsrc.read_csv(self.spark, f["quotes"], QUOTE_SCHEMA).withColumn(
                "delivered_on", F.lit(f["day"]).cast("date")
            )
            rep = ingest.load_with_audit(
                self.spark, again, self.p["stg_quotes"], ["contract", "snapshot_date"],
                "stg", "barchart", "stg_quotes", f["day"], partition_by="delivered_on",
            )
            after = self._snapshot(con, self.p["stg_quotes"])
            if rep.target_row != self.expect["stg_quotes"] or not before.equals(after):
                errors["*"] = "re-delivering the last batch changed stg_quotes"
        finally:
            con.close()
        return errors

    # -- metrics ------------------------------------------------------------------
    def stored_bytes(self) -> int:
        return sum(gen.dir_bytes(p)[1] for p in self.p.values())

    def layer_extras(self, tracer) -> dict:
        written = sum(
            s.output_bytes for s in tracer.spans if s.name.startswith("plans.ingest.")
        )
        fact = self.p["ods_fact"]
        parts = [d for d in os.listdir(fact) if d.startswith("date_id=")] if os.path.isdir(fact) else []
        return {
            "plans.ingest.bytes_written_per_delivered_byte": (
                written / self.delivered_bytes_traced if self.delivered_bytes_traced else 0.0
            ),
            "plans.ods.partition_dirs": float(len(parts)),
        }


# --------------------------------------------------------------------------
# corpus_screen
# --------------------------------------------------------------------------


class CorpusScreen:
    """Curation, index lifecycle and streaming screens beside analyst
    reads. One op is one gate; every round runs the gates once, in a
    fixed order. Verification compares each gate's last DataFrame with
    its ``oracle_sql()`` through ``testing.compare.compare``.

    Gates run as registered in ``__spark_entry__.queries()`` and
    materialize through the noop sink. The gates that write an index or
    a stream are re-stated below with their state under the run's own
    directory (the registered gates write under /tmp); the calls,
    arguments and id splits are those of ``__spark_entry__``."""

    name = "corpus_screen"
    repeatable = True
    gates = {  # gate -> span, in run order
        "flagship_windows": "operators.windows",
        "a_pricing_summary": "operators.aggregates",
        "j_star_join": "operators.joins",
        "s_topk_per_group": "operators.topk",
        "q_basket_pairs": "plans.analytics",
        # three more reads of about 1.2 s, near the round's median op,
        # so op_p50_s does not rest on a single gate's time
        "a_active_users": "operators.aggregates",
        "w_resample_ffill": "operators.windows",
        "q_waiting_suppliers": "plans.analytics",
        "st_phash_stream": "streaming.pipeline.phash_stream",
        "d_neardup_compact": "operators.dedup.index_lifecycle",
    }
    # Traced runs only, once each after the paired rounds: these three
    # layers are measured per layer, but their 5-10 s per gate does not
    # fit the untraced runs' budget.
    probe_gates = {
        "c_full_curation": "operators.curate.full_curation",
        "st_neardup_stream": "streaming.pipeline.neardup_stream",
        "st_ann_stream": "streaming.pipeline.ann_stream",
    }
    warmup_gate = "m_audio_wav"  # untimed, so never traced; starts the Python workers
    screened_table = "documents"  # the input of the untraced round's screens

    def __init__(self, root: str, seed: int, tracer):
        self.root, self.seed, self.t = root, seed, tracer
        self.cat = os.path.join(root, "catalog")
        self.last_df = {}
        self.runs: dict[str, int] = {}

    def setup(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        gen.write_catalog(self.cat, self.seed)
        self.input_bytes = os.path.getsize(os.path.join(self.cat, f"{self.screened_table}.parquet"))
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def warmup(self) -> None:
        self._run(self.warmup_gate)
        self.last_df.pop(self.warmup_gate, None)

    def round(self, r: int):
        return [(g, lambda g=g: self._run(g)) for g in self.gates]

    def probes(self):
        return [(g, lambda g=g: self._run(g)) for g in self.probe_gates]

    def _run(self, gate: str) -> None:
        k = self.runs.get(gate, 0)
        self.runs[gate] = k + 1
        span = self.gates.get(gate) or self.probe_gates.get(gate, gate)
        with self.t.span(span):
            df = self._build(gate, k)
            df.write.format("noop").mode("overwrite").save()
        self.last_df[gate] = df

    def verify(self) -> dict[str, str]:
        from building_coffee_commodity_trading_data_warehouse_spark.testing.compare import compare

        errors = {}
        for gate, df in self.last_df.items():
            try:
                rep = compare(df, self.oracles[gate], self.cat)
            except Exception as exc:  # a crash in one gate's check fails that gate
                traceback.print_exc()
                rep = {"ok": False, "detail": repr(exc)}
            if not rep["ok"]:
                errors[gate] = rep["detail"]
        return errors

    def _build(self, gate: str, k: int):
        if not hasattr(self, f"_{gate}"):
            return self.t.construct(self.queries[gate], self.spark, self.cat)
        base = os.path.join(self.root, "state", gate)
        prev = os.path.join(base, str(k - 1))
        if k and os.path.isdir(prev):
            shutil.rmtree(prev)  # keep only the newest run's state on disk
        d = os.path.join(base, str(k))
        os.makedirs(d)
        return getattr(self, f"_{gate}")(d)

    def _table(self, name):
        from building_coffee_commodity_trading_data_warehouse_spark import catalog

        return catalog.table(self.spark, self.cat, name)

    def _stream(self, d, df, id_col, cuts):
        """Stage ``df`` as one delivery per id range into a landing dir."""
        from pyspark.sql import functions as F

        from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

        land, stage = os.path.join(d, "landing"), os.path.join(d, "stage")
        os.makedirs(land)
        for i, (lo, hi) in enumerate(cuts, 1):
            part = df.filter(F.col(id_col) >= lo)
            if hi is not None:
                part = part.filter(F.col(id_col) < hi)
            part.coalesce(1).write.mode("overwrite").parquet(f"{stage}/d{i}")
            pipeline.stage_delivery(f"{stage}/d{i}", land, f"delivery_{i}")
        return pipeline.stream_documents(self.spark, land, max_files_per_trigger=1)

    def _drain(self, d, q):
        q.awaitTermination()
        return self.spark.read.parquet(os.path.join(d, "out")).drop("batch_id")

    def _st_phash_stream(self, d):
        from pyspark.sql import functions as F

        from building_coffee_commodity_trading_data_warehouse_spark.session import ship_package
        from building_coffee_commodity_trading_data_warehouse_spark.sources import multimodal
        from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

        ship_package(self.spark)
        docs = self._table("documents")
        ipath = os.path.join(d, "index")
        hist = multimodal.image_phash(
            multimodal.to_media_table(docs.filter(F.col("doc_id") < 250))
        ).select("doc_id", "hash_hi", "hash_lo")
        multimodal.phash_index_build(hist, ipath, max_distance=3)
        stream = self._stream(d, docs, "doc_id", [(250, 375), (375, None)])
        return self._drain(d, pipeline.phash_stream(
            stream, ipath, os.path.join(d, "out"), os.path.join(d, "ckpt"), append_survivors=True
        ))

    def _st_neardup_stream(self, d):
        from pyspark.sql import functions as F

        from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup
        from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

        docs = self._table("documents")
        ipath = os.path.join(d, "index")
        dedup.neardup_index_build(docs.filter(F.col("doc_id") < 250), ipath, k=8, bands=4, n=2)
        mid = 250 + (docs.filter(F.col("doc_id") >= 250).count() + 1) // 2
        stream = self._stream(d, docs, "doc_id", [(250, mid), (mid, None)])
        return self._drain(d, pipeline.neardup_stream(
            stream, ipath, os.path.join(d, "out"), os.path.join(d, "ckpt"), threshold=0.2
        ))

    def _st_ann_stream(self, d):
        from pyspark.sql import functions as F

        from building_coffee_commodity_trading_data_warehouse_spark.operators import similarity
        from building_coffee_commodity_trading_data_warehouse_spark.streaming import pipeline

        emb = self._table("embeddings")
        ipath = os.path.join(d, "index")
        similarity.ivf_index_build(emb.filter(F.col("vec_id") < 250), ipath, n_centroids=16)
        stream = self._stream(d, emb, "vec_id", [(250, 375), (375, None)])
        return self._drain(d, pipeline.ann_stream(
            stream, ipath, os.path.join(d, "out"), os.path.join(d, "ckpt"),
            threshold=0.38, nprobe="all", append_survivors=True,
        ))

    def _d_neardup_compact(self, d):
        from pyspark.sql import functions as F

        from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

        docs = self._table("documents")
        ipath = os.path.join(d, "index")
        dedup.neardup_index_build(docs.filter(F.col("doc_id") < 125), ipath, k=8, bands=4, n=2)
        dedup.neardup_index_build(
            docs.filter((F.col("doc_id") >= 125) & (F.col("doc_id") < 250)),
            ipath, k=8, bands=4, n=2, mode="append", batch_tag="b2",
        )
        dedup.neardup_index_compact(self.spark, ipath)
        dedup.neardup_index_vacuum(self.spark, ipath)
        return self.t.construct(
            dedup.neardup_index_search,
            self.spark, ipath, docs.filter(F.col("doc_id") >= 250), threshold=0.2,
        )

    # -- metrics ----------------------------------------------------------------
    def _state_dirs(self, leaf=None):
        base = os.path.join(self.root, "state")
        if not os.path.isdir(base):
            return []
        out = []
        for gate in os.listdir(base):
            for k in os.listdir(os.path.join(base, gate)):
                p = os.path.join(base, gate, k)
                out.append(os.path.join(p, leaf) if leaf else p)
        return out

    def stored_bytes(self) -> int:
        return sum(gen.dir_bytes(p)[1] for p in self._state_dirs())

    def layer_extras(self, tracer) -> dict:
        from pyspark.sql import functions as F

        files = size = 0
        for p in self._state_dirs("index"):
            n, b = gen.dir_bytes(p)
            files, size = files + n, size + b
        screened = kept = 0
        for df in self.last_df.values():
            flag = next((c for c in ("is_dup", "is_neardup") if c in df.columns), None)
            if flag:
                row = df.agg(F.count(F.lit(1)), F.sum((~F.col(flag)).cast("long"))).first()
                screened, kept = screened + row[0], kept + (row[1] or 0)
        return {
            "index.files": float(files),
            "index.bytes": float(size),
            "index.survivor_frac": kept / screened if screened else 0.0,
        }


WORKLOADS = {w.name: w for w in (EtlDaily, CorpusScreen)}
