"""Seeded input generators.

Everything the program reads in a benchmark run is written here from the
workload seed, so the same seed gives byte-identical files:

* ``write_catalog`` writes the ten catalog tables (``catalog.TABLES``)
  with the schemas and id ranges the gates rely on (FIXTURES.md §B).
  The gates split ``documents``/``embeddings`` at ids 125, 250 and 375,
  so ids always run 0..n-1 with n well above 375.
* ``EtlPlan`` lays out the trading-day deliveries of ``etl_daily`` in the
  reference shapes (FIXTURES.md §A): a Barchart quote CSV, one KC=F OHLCV
  row, weekly COT rows and USDA report text files.

Only numpy and pyarrow are used, so the generators run without a JVM.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated catalog. Every gate in the benchmark is
# bound by per-job fixed cost at this size, so it sits near the
# smallest catalog the documents/embeddings id splits allow.
CATALOG_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "a the key agg row scan slow fast table value part hash line sort window "
    "batch spark order data column join small customer query merge big filter "
    "group stream vector"
).split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
NEAR_DUP_SHARE = 0.12
# Share of words replaced in a near-duplicate document. The spread puts
# some pairs near the screens' Jaccard threshold (0.2), so a change to a
# threshold or to the shingling changes verdicts that verification sees.
NEAR_DUP_EDITS = (0.05, 0.3, 0.5, 0.7)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: dt.date, offsets) -> np.ndarray:
    return (np.datetime64(base, "us") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # near-duplicates in the screened half: an earlier document with
    # some of its words replaced, so the dedup screens find real matches
    for i in range(250, n):
        if rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            edits = max(1, int(len(words) * rng.choice(NEAR_DUP_EDITS)))
            for j in rng.integers(0, len(words), edits):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    for i in range(250, n):
        if rng.random() < NEAR_DUP_SHARE:
            v[i] = v[int(rng.integers(0, i))] + rng.normal(0, 0.3, dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_catalog(out_dir: str, seed: int) -> int:
    """Write the ten catalog tables under ``out_dir``; return the bytes
    written. Row order of the large tables is a seeded permutation."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = CATALOG_ROWS
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n["customer"],
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
    }
    adjs = ["blue", "red", "hot", "cold", "small", "large", "new", "old"]
    nouns = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
    n_part = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{adjs[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    n_ord = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    orderkey = np.repeat(np.arange(n_ord), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, 2498, n_li)),
        }
    )
    n_ev = n["events"]
    secs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_ev // 66, n_ev), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(40.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    total = 0
    for name, table in tables.items():
        if table.num_rows > 1000:
            table = table.take(rng.permutation(table.num_rows))
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        total += os.path.getsize(path)
    return total


# --------------------------------------------------------------------------
# etl_daily deliveries
# --------------------------------------------------------------------------

MONTHS = tuple(range(1, 13))
PLAYERS = ("Com", "Ncom", "Index", "Nrep")
COUNTRIES = ("Brazil", "Vietnam", "Colombia", "Indonesia", "Ethiopia", "Honduras", "India", "Uganda")
QUOTE_HEADER = "contract,timing,mo,last,change,prev_open,high,low,prev,volume,oi,snapshot_date"
OHLCV_HEADER = "Date,Open,High,Low,Close,Adj Close,Volume"
COT_HEADER = "date_actual,player,cit_long,cit_short,cit_net"
HOLIDAY_SHARE = 0.1

# Position of each delivery inside a round of ROUND_LEN days: the round
# carries one COT week, one correction of an earlier day and one USDA
# report, so every round exercises every load path once.
ROUND_LEN = 2
COT_SLOT, CORRECTION_SLOT, REPORT_SLOT = 0, 0, 1


def contract_code(mo: int) -> str:
    return f"KC{mo:02d}"


def _business_days(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


class EtlPlan:
    """All deliveries of one ``etl_daily`` run, derived from the seed.

    ``history`` trading days are delivered in one bootstrap batch during
    set-up; days after that are delivered one per op. ``quotes`` holds
    the expected staging content (latest value per (contract, day)),
    which verification compares the loaded table against."""

    def __init__(self, seed: int, history: int, deliveries: int):
        self.rng = np.random.default_rng([seed, 2])
        self.history = history
        self.days = _business_days(dt.date(2021, 1, 4), history + deliveries)
        self.px = self.rng.uniform(100.0, 300.0, len(MONTHS))
        self.quotes: dict[tuple[str, dt.date], list[str]] = {}
        self.cot_rows = 0
        self.report_rows = 0

    # -- row builders -----------------------------------------------------
    def _quote_row(self, mo: int, day: dt.date, px: float) -> list[str]:
        rng = self.rng
        chg = float(np.round(rng.normal(0, 1.5), 2))
        return [
            contract_code(mo),
            "regular",
            str(mo),
            f"{px:.2f}",
            f"{chg:.2f}",
            f"{px - chg + 0.25:.2f}",
            f"{px + abs(chg) + 0.5:.2f}",
            f"{px - abs(chg) - 0.5:.2f}",
            f"{px - chg:.2f}",
            str(int(rng.integers(100, 20000))),
            str(int(rng.integers(1000, 90000))),
            day.isoformat(),
        ]

    def _day_quotes(self, day: dt.date) -> list[list[str]]:
        self.px = np.maximum(5.0, self.px + self.rng.normal(0, 1.5, len(MONTHS)))
        rows = [self._quote_row(mo, day, float(p)) for mo, p in zip(MONTHS, self.px)]
        for r in rows:
            self.quotes[(r[0], day)] = r
        return rows

    def _correction(self, before: int) -> list[list[str]]:
        """Re-deliver a seeded subset of an earlier day's quotes with
        changed prices; the loaded table must end with these values."""
        day = self.days[int(self.rng.integers(0, before))]
        k = int(self.rng.integers(3, len(MONTHS) + 1))
        rows = []
        for mo in sorted(self.rng.choice(MONTHS, k, replace=False).tolist()):
            old = float(self.quotes[(contract_code(mo), day)][3])
            row = self._quote_row(mo, day, round(old + float(self.rng.normal(0, 2)), 2))
            self.quotes[(row[0], day)] = row
            rows.append(row)
        return rows

    def _ohlcv(self, day: dt.date) -> str:
        if self.rng.random() < HOLIDAY_SHARE:
            return f"{day.isoformat()}," + ",".join(["null"] * 6)
        o = float(self.rng.uniform(100, 300))
        hi, lo = o + float(self.rng.uniform(0, 5)), o - float(self.rng.uniform(0, 5))
        c = float(self.rng.uniform(lo, hi))
        vol = int(self.rng.integers(0, 50000))
        return f"{day.isoformat()},{o:.6f},{hi:.6f},{lo:.6f},{c:.6f},{c:.6f},{vol}"

    def _cot(self, day: dt.date) -> list[str]:
        longs = self.rng.integers(1000, 90000, len(PLAYERS))
        cuts = np.sort(self.rng.integers(0, int(longs.sum()), len(PLAYERS) - 1))
        shorts = -np.diff(np.concatenate([[0], cuts, [int(longs.sum())]]))
        self.cot_rows += len(PLAYERS)
        return [
            f"{day.isoformat()} 00:00:00,{p},{lg},{sh},{lg + sh}"
            for p, lg, sh in zip(PLAYERS, longs.tolist(), shorts.tolist())
        ]

    def _report(self, day: dt.date) -> str:
        y = day.year
        rows = []
        for c in COUNTRIES:
            v = self.rng.integers(10, 9000, 8)
            cells = [f'"{x:,}"' if x >= 1000 else str(x) for x in v.tolist()]
            rows.append(",".join([c, *cells]))
        self.report_rows += len(COUNTRIES)
        return (
            "USDA Coffee: World Markets and Trade\npreface page, no tables\n"
            "\fWORLD SUPPLY AND DISTRIBUTION\n"
            f"Season: {y}/{(y + 1) % 100:02d} marketing year\n<TABLE>\n"
            "Country,Beginning Stocks,Production,Imports,Total Supply,"
            "Domestic Use,Loss,Exports,Ending Stocks\n"
            + "\n".join(rows)
            + "\n</TABLE>\n<TABLE>\nnarrow,table\na,b\n</TABLE>\n\fappendix page\n"
        )

    # -- files ------------------------------------------------------------
    def write_history(self, out_dir: str) -> dict:
        """One bootstrap batch holding the first ``history`` days and
        the last USDA report before them."""
        os.makedirs(out_dir, exist_ok=True)
        quotes, kc, cot = [], [], []
        for i, day in enumerate(self.days[: self.history]):
            quotes += self._day_quotes(day)
            kc.append(self._ohlcv(day))
            if i % ROUND_LEN == COT_SLOT:
                cot += self._cot(day)
        last = self.days[self.history - 1]
        return self._write_files(out_dir, last, quotes, kc, cot, self._report(last))

    def write_delivery(self, out_dir: str, k: int) -> dict:
        """Delivery ``k`` (0-based) after the history, one trading day."""
        os.makedirs(out_dir, exist_ok=True)
        idx = self.history + k
        day = self.days[idx]
        slot = k % ROUND_LEN
        quotes = self._day_quotes(day)
        if slot == CORRECTION_SLOT:
            quotes += self._correction(idx)
        cot = self._cot(day) if slot == COT_SLOT else []
        report = self._report(day) if slot == REPORT_SLOT else None
        return self._write_files(out_dir, day, quotes, [self._ohlcv(day)], cot, report)

    def _write_files(self, out_dir, day, quotes, kc, cot, report) -> dict:
        files = {"day": day.isoformat(), "quote_rows": len(quotes)}

        def put(name, text):
            path = os.path.join(out_dir, name)
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
            files[name.split(".")[0].split("/")[0]] = path
            return path

        put("quotes.csv", "\n".join([QUOTE_HEADER, *(",".join(r) for r in quotes)]) + "\n")
        put("kc.csv", "\n".join([OHLCV_HEADER, *kc]) + "\n")
        files["kc_rows"] = len(kc)
        if cot:
            put("cot.csv", "\n".join([COT_HEADER, *cot]) + "\n")
            files["cot_rows"] = len(cot)
        if report is not None:
            os.makedirs(os.path.join(out_dir, "report"), exist_ok=True)
            put("report/usda.txt", report)
            files["report_rows"] = len(COUNTRIES)
            files["report_dir"] = os.path.join(out_dir, "report")
        return files

    def expected_quotes(self) -> list[tuple]:
        """(contract, snapshot_date, last) of every quote as it should
        stand after all deliveries so far, corrections applied."""
        return sorted((c, d.isoformat(), float(r[3])) for (c, d), r in self.quotes.items())

    def write_dims(self, out_dir: str) -> None:
        """``ods_contract`` and the ``(date_id, date_actual)`` columns of
        ``ods_date`` that ``plans.ods.build_fact`` joins on."""
        os.makedirs(out_dir, exist_ok=True)
        _write(
            pa.table(
                {
                    "contract_id": pa.array(list(MONTHS), pa.int32()),
                    "contract_code": [contract_code(m) for m in MONTHS],
                }
            ),
            os.path.join(out_dir, "ods_contract.parquet"),
        )
        first, n = self.days[0], (self.days[-1] - self.days[0]).days + 1
        dates = [first + dt.timedelta(days=i) for i in range(n)]
        _write(
            pa.table(
                {
                    "date_id": pa.array([int(d.strftime("%Y%m%d")) for d in dates], pa.int32()),
                    "date_actual": pa.array(dates, pa.date32()),
                }
            ),
            os.path.join(out_dir, "ods_date.parquet"),
        )


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``; Spark's
    ``.crc`` side files count, since they occupy the disk too."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            if os.path.isfile(full) and not os.path.islink(full):
                files += 1
                size += os.path.getsize(full)
    return files, size
