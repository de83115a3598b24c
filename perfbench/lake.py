"""The two table workloads: ``lake_read`` (read-only) and ``lake_ingest``
(writes, commits and maintenance, each followed by a verifying read).

Both use a key-unique, lineitem-shaped table partitioned by
month(``ship``). Rows are generated with NumPy from the seed, so every
expected answer is computed from the same arrays without Spark.
"""

from __future__ import annotations

import datetime
import json
import os
import uuid

import numpy as np

from common import Workload, WrongResult, dir_bytes, expect, median, op
from layers import write_counters

LI_SCHEMA = "k long, o long, ship date, qty int, price_c long, flag string"
DAY0 = datetime.date(2023, 1, 1)
EPOCH_DAY0 = (DAY0 - datetime.date(1970, 1, 1)).days
FLAGS = np.array(["A", "N", "R"])
MONTH_STARTS = [(datetime.date(2023, m, 1) - DAY0).days for m in range(1, 13)] + [365]


def li_rows(rng, keys, days: int) -> dict:
    """Lineitem-shaped columns for ``keys``; ``ship`` is a day offset
    from DAY0 and ``flag`` an index into FLAGS."""
    n = len(keys)
    keys = np.asarray(keys, dtype=np.int64)
    return {"k": keys, "o": keys // 8,
            "ship": rng.integers(0, days, n).astype(np.int32),
            "qty": rng.integers(1, 51, n).astype(np.int32),
            "price_c": rng.integers(100, 10_000_000, n).astype(np.int64),
            "flag": rng.integers(0, 3, n).astype(np.int8)}


def arrow_rows(cols: dict, field_ids: dict | None = None):
    import pyarrow as pa

    arrays = [pa.array(cols["k"], pa.int64()), pa.array(cols["o"], pa.int64()),
              pa.array(np.asarray(cols["ship"], np.int32) + EPOCH_DAY0, pa.int32())
              .cast(pa.date32()),
              pa.array(cols["qty"], pa.int32()), pa.array(cols["price_c"], pa.int64()),
              pa.array(FLAGS[np.asarray(cols["flag"], np.int64)])]
    names = ["k", "o", "ship", "qty", "price_c", "flag"]
    fields = [pa.field(n, a.type, metadata=(
        {b"PARQUET:field_id": str(field_ids[n]).encode()} if field_ids else None))
        for n, a in zip(names, arrays)]
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def to_spark(spark, cols: dict):
    return spark.createDataFrame(arrow_rows(cols).to_pandas(), LI_SCHEMA)


def li_table(spark, location: str, spark_schema):
    from iceberg_cpp_spark import IceTable
    from iceberg_cpp_spark.core.metadata import PartitionField, PartitionSpec
    from iceberg_cpp_spark.core.types import schema_from_spark
    from iceberg_cpp_spark.functions import transforms as tr

    schema = schema_from_spark(spark_schema)
    spec = PartitionSpec([PartitionField(
        schema.find_field("ship").field_id, 1000, "ship_month", tr.MonthTransform())])
    return IceTable.create(spark, location, schema, spec=spec)


def ref(name):
    from iceberg_cpp_spark.plans import expressions as ex

    return ex.Reference(name)


def collect(df, tracer):
    """The action of a read op: its own span, so decode lands in ``exec``."""
    with tracer.span("exec"):
        rows = df.collect()
    tracer.add("exec.rows_out", len(rows))
    return rows


def day(offset: int) -> datetime.date:
    return DAY0 + datetime.timedelta(days=int(offset))


def summary(table) -> dict:
    snap = table.current_snapshot()
    return dict(snap.summary) if snap is not None else {}


# ---------------------------------------------------------------------------
# lake_read
# ---------------------------------------------------------------------------

class LakeRead(Workload):
    """Read-only mix on a loaded table: partition-pruned range aggregates,
    key point lookups, full aggregates on the current snapshot (with a
    deletion-vector and a position delete to resolve) and on the
    pre-delete snapshot, a join with ``orders``, and standalone planning
    of a synthetic table above the distributed-planning threshold."""

    name = "lake_read"
    kinds = ["range_agg", "point_lookup", "full_agg", "full_agg_pre_delete",
             "join_agg", "plan_files", "plan_files_df"]

    def __init__(self, spark, work: str, scale: float):
        super().__init__(spark, work, scale)
        self.rows = max(int(24_000 * scale), 600)
        self.appends = 3
        # 3000 synthetic files puts plan_files above the 2048-file
        # DISTRIBUTED_PLAN_THRESHOLD (planned by Spark jobs)
        self.plan_files = max(int(3000 * scale), 30)

    # -- inputs -----------------------------------------------------------
    def op_list(self, seed: int, n_cycles: int):
        rng = np.random.default_rng([seed, 1])
        n, pf = self.rows, self.plan_files
        cycles = []
        for _ in range(n_cycles):
            m0 = int(rng.integers(0, 12))
            span = int(rng.integers(1, 4))
            # point keys: present (even), deleted or never written (odd)
            key = int(rng.integers(0, 2 * n))
            sel = float(10 ** rng.uniform(np.log10(0.002), 0))
            x = min(max(int(round(pf * sel)), 1), pf)
            lo = int(rng.integers(0, pf))
            width = min(max(int(round(pf * float(10 ** rng.uniform(-2.7, 0)))), 1),
                        pf - lo)
            ops = [op("range_agg", "read_pruned", m0=m0, m1=min(m0 + span, 12)),
                   op("point_lookup", "read_pruned", key=key),
                   op("full_agg", "read_full"),
                   op("full_agg_pre_delete", "read_full"),
                   op("join_agg", "read_full", priority=int(rng.integers(1, 6))),
                   op("plan_files", "plan", files=x),
                   op("plan_files_df", "plan", lo=lo, hi=lo + width)]
            cycles.append(ops)
        return cycles

    # -- set-up -----------------------------------------------------------
    def setup(self, seed: int, rep: int):
        import pandas as pd

        from iceberg_cpp_spark import IceTable
        from iceberg_cpp_spark.core.types import schema_from_spark
        from iceberg_cpp_spark.plans import expressions as ex

        spark, n = self.spark, self.rows
        root = os.path.join(self.work, f"lake_read{rep}")
        rng = np.random.default_rng([seed, 2])
        keys = rng.permutation(n) * 2  # even keys; odd keys are never written
        cols = li_rows(rng, keys, 365)
        li = li_table(spark, os.path.join(root, "lineitem"),
                      spark.createDataFrame([], LI_SCHEMA).schema)
        per = -(-n // self.appends)
        for i in range(self.appends):
            sl = slice(i * per, (i + 1) * per)
            li = li.append(to_spark(spark, {c: v[sl] for c, v in cols.items()}))
        pre_id = li.current_snapshot().snapshot_id
        li = li.delete_where(ex.and_(ex.eq(ref("flag"), "R"), ex.lt_eq(ref("qty"), 5)),
                             mode="deletion-vector")
        li = li.delete_where(ex.eq(ref("qty"), 50), mode="merge-on-read")
        live = ~(((cols["flag"] == 2) & (cols["qty"] <= 5)) | (cols["qty"] == 50))

        n_orders = int(keys.max()) // 8 + 1
        prio = rng.integers(1, 6, n_orders).astype(np.int32)
        odf = spark.createDataFrame(
            pd.DataFrame({"o_key": np.arange(n_orders, dtype=np.int64), "priority": prio}),
            "o_key long, priority int")
        orders = IceTable.create(spark, os.path.join(root, "orders"),
                                 schema_from_spark(odf.schema))
        orders = orders.append(odf)
        plan = self._plan_table(os.path.join(root, "plan"))
        return {"root": root, "li": IceTable.load(spark, li.location()),
                "orders": orders, "plan": plan, "pre_id": pre_id,
                "oracle": self._oracle(cols, live, prio)}

    def _plan_table(self, location: str):
        """Synthetic descriptors with fake paths and wide 8-column bounds,
        committed through commit_files_df over three snapshots. File i
        covers id in [100 i, 100 i + 99] and c3 in [100 j, 100 j + 99]
        with j = 7 i mod n, so bounds filters have exact file counts."""
        from iceberg_cpp_spark import IceTable
        from iceberg_cpp_spark.core import types as it

        n = self.plan_files
        if n % 7 == 0:
            raise ValueError("plan file count must be coprime to 7")
        schema = it.Schema([it.NestedField(1, "id", it.LongType(), required=True)]
                           + [it.NestedField(i, f"c{i}", it.LongType())
                              for i in range(2, 9)], schema_id=0)
        t = IceTable.create(self.spark, location, schema)

        def hexb(v):
            return int(v).to_bytes(8, "little", signed=True).hex()

        ids = [str(f) for f in range(1, 9)]
        for part in np.array_split(np.arange(n), 3):
            rows = []
            for i in part.tolist():
                lows = {"1": i * 100, "3": (7 * i % n) * 100}
                for f in (2, 4, 5, 6, 7, 8):
                    lows[str(f)] = (i * (2 * f + 1) % n) * 100
                mj = json.dumps({
                    "column_sizes": {}, "nan_value_counts": {},
                    "value_counts": {f: 100 for f in ids},
                    "null_value_counts": {f: 0 for f in ids},
                    "lower_bounds": {f: hexb(v) for f, v in lows.items()},
                    "upper_bounds": {f: hexb(v + 99) for f, v in lows.items()}})
                rows.append((f"/fake/data/f{i:06d}.parquet", 100, 10_000, mj))
            t = t.commit_files_df(self.spark.createDataFrame(
                rows, "file_path string, record_count long, "
                      "file_size_in_bytes long, metrics_json string"))
        return t

    @staticmethod
    def _oracle(cols, live, prio) -> dict:
        """Every answer the loop can ask for, from the generated arrays."""
        month = np.searchsorted(MONTH_STARTS, cols["ship"], side="right") - 1
        by_month = np.zeros((12, 3), dtype=object)
        for m in range(12):
            sel = live & (month == m)
            by_month[m] = (int(sel.sum()), int(cols["price_c"][sel].sum()),
                           int(cols["qty"][sel].sum()))
        lp = prio[cols["o"]]
        join = {p: (int((live & (lp == p)).sum()),
                    int(cols["price_c"][live & (lp == p)].sum())) for p in range(1, 6)}
        points = {int(k): (int(k), int(q), int(pc)) for k, q, pc, ok in zip(
            cols["k"], cols["qty"], cols["price_c"], live) if ok}
        return {"by_month": by_month, "join": join, "points": points,
                "full": (int(live.sum()), int(cols["price_c"][live].sum()),
                         int(cols["k"][live].sum())),
                "full_pre": (len(live), int(cols["price_c"].sum()),
                             int(cols["k"].sum()))}

    def corrupt(self, st) -> None:
        c, p, k = st["oracle"]["full"]
        st["oracle"]["full"] = (c + 1, p, k)

    # -- the loop ---------------------------------------------------------
    def execute(self, st, o, timer, tr) -> None:
        from pyspark.sql import functions as F

        from iceberg_cpp_spark.plans import expressions as ex

        p, orc = o.p, st["oracle"]
        li = st["li"]
        if o.kind == "range_agg":
            f = ex.and_(ex.gt_eq(ref("ship"), day(MONTH_STARTS[p["m0"]])),
                        ex.lt(ref("ship"), day(MONTH_STARTS[p["m1"]])))
            rows = collect(li.scan(filter=f).to_df().agg(
                F.count("*"), F.sum("price_c"), F.sum("qty")), tr)
            want = tuple(int(v) for v in orc["by_month"][p["m0"]:p["m1"]].sum(axis=0))
            expect(tuple(rows[0]), want, "range aggregate")
        elif o.kind == "point_lookup":
            rows = collect(li.scan(filter=ex.eq(ref("k"), p["key"])).to_df()
                           .select("k", "qty", "price_c"), tr)
            want = [orc["points"][p["key"]]] if p["key"] in orc["points"] else []
            expect([tuple(r) for r in rows], want, "point lookup")
        elif o.kind in ("full_agg", "full_agg_pre_delete"):
            scan = (li.scan() if o.kind == "full_agg"
                    else li.scan(snapshot_id=st["pre_id"]))
            rows = collect(scan.to_df().agg(F.count("*"), F.sum("price_c"),
                                            F.sum("k")), tr)
            want = orc["full"] if o.kind == "full_agg" else orc["full_pre"]
            expect(tuple(rows[0]), want, o.kind)
        elif o.kind == "join_agg":
            orders = st["orders"].scan(
                filter=ex.eq(ref("priority"), p["priority"])).to_df()
            df = li.to_df().join(orders, F.col("o") == F.col("o_key"))
            rows = collect(df.agg(F.count("*"), F.sum("price_c")), tr)
            cnt, tot = rows[0]
            expect((cnt, tot or 0), orc["join"][p["priority"]], "join aggregate")
        elif o.kind == "plan_files":
            tasks = st["plan"].scan(filter=ex.lt(ref("id"), p["files"] * 100)).plan_files()
            expect(len(tasks), p["files"], "planned files")
        elif o.kind == "plan_files_df":
            f = ex.and_(ex.gt_eq(ref("c3"), p["lo"] * 100), ex.lt(ref("c3"), p["hi"] * 100))
            df = st["plan"].scan(filter=f).plan_files_df()
            with tr.span("exec"):
                n = df.count()
            tr.add("plan.files_planned", n)
            expect(n, p["hi"] - p["lo"], "planned files (DataFrame)")
        else:
            raise ValueError(o.kind)

    # -- reporting --------------------------------------------------------
    def sizes(self, st) -> dict:
        s = summary(st["li"])
        return {"rows": st["oracle"]["full"][0],
                "files": int(s.get("total-data-files", 0)),
                "delete_files": int(s.get("total-delete-files", 0)),
                "snapshots": len(st["li"].snapshots()),
                "plan_table_files": self.plan_files}

    def tables(self, st) -> list:
        return [st["li"], st["plan"]]

    def derived(self, st, results) -> dict:
        lat = {k: [r.latency_s for r in results if r.kind == k and r.ok]
               for k in ("full_agg", "full_agg_pre_delete")}
        return {"deletes.apply_overhead_s":
                median(lat["full_agg"]) - median(lat["full_agg_pre_delete"])}


# ---------------------------------------------------------------------------
# lake_ingest
# ---------------------------------------------------------------------------

class LakeIngest(Workload):
    """Seeded write stream. One cycle: append, a unique-key and a
    duplicate-heavy ``apply_changes`` batch (both ordered by ``seq``),
    ``merge_into`` upsert, merge-on-read and deletion-vector
    ``delete_where``, a ``commit_files_df`` registration of files written
    outside the engine, then ``rewrite_data_files``, ``expire_snapshots``
    and ``rewrite_manifests``. Every op reloads the table with
    ``IceTable.load`` and runs a verifying read against a row-count and
    key-checksum model."""

    name = "lake_ingest"
    kinds = ["append", "cdc_unique", "cdc_dup_heavy", "merge_into", "delete_mor",
             "delete_dv", "register", "rewrite_data_files", "expire_snapshots",
             "rewrite_manifests"]
    # op latencies settle only in the third cycle: the second is still
    # about 20% slower
    warm_cycles = 2
    DAYS = 90  # three monthly partitions

    def __init__(self, spark, work: str, scale: float):
        super().__init__(spark, work, scale)
        self.rows = max(int(6000 * scale), 300)
        self.batch = max(int(200 * scale), 20)

    # -- inputs -----------------------------------------------------------
    def op_list(self, seed: int, n_cycles: int):
        rng = np.random.default_rng([seed, 3])
        b, next_key = self.batch, self.rows

        def rows_for(keys):
            cols = li_rows(rng, keys, self.DAYS)
            return tuple((c, tuple(v.tolist())) for c, v in cols.items())

        def fresh(n):
            nonlocal next_key
            next_key += n
            return np.arange(next_key - n, next_key)

        def old(n):
            # keys written before this cycle: an op may run before the op
            # that owns a fresh key of the same cycle
            return rng.choice(cycle_start, n, replace=False)

        cycles = []
        for _ in range(n_cycles):
            cycle_start = next_key
            # unique-key CDC: updates, inserts and deletes, one change per key
            u_keys = np.concatenate([old(b * 3 // 5), fresh(b // 5)])
            d_keys = np.setdiff1d(old(b // 5), u_keys)
            cdc_u_keys = np.concatenate([u_keys, d_keys])
            cdc_u_ops = ["U"] * (b * 3 // 5) + ["I"] * (b // 5) + ["D"] * len(d_keys)
            # duplicate-heavy CDC: three changes per key, last by seq wins
            dk = np.concatenate([old(b // 3), fresh(b // 6)])
            dup_keys = np.repeat(dk, 3)
            dup_ops = rng.choice(np.array(["I", "U", "D"]), len(dup_keys)).tolist()
            span = max(next_key // 200, 2)
            lo_mor, lo_dv = (int(x) for x in rng.integers(0, next_key, 2))
            ops = [
                op("append", "write", rows=rows_for(fresh(b))),
                op("cdc_unique", "write", rows=rows_for(cdc_u_keys),
                   ops=tuple(cdc_u_ops),
                   seq=tuple(rng.permutation(len(cdc_u_keys)).tolist())),
                op("cdc_dup_heavy", "write", rows=rows_for(dup_keys),
                   ops=tuple(dup_ops),
                   seq=tuple(rng.permutation(len(dup_keys)).tolist())),
                op("merge_into", "write",
                   rows=rows_for(np.unique(np.concatenate([old(b * 3 // 4),
                                                           fresh(b // 4)])))),
                op("delete_mor", "write", lo=lo_mor, hi=lo_mor + span),
                op("delete_dv", "write", lo=lo_dv, hi=lo_dv + span),
                op("register", "write", rows=rows_for(fresh(b))),
            ]
            # a fixed order: the table each write sees depends on the
            # writes before it, so a seeded order would change the work
            cycles.append(ops + [op("rewrite_data_files", "maintain"),
                                 op("expire_snapshots", "maintain", keep_last=3),
                                 op("rewrite_manifests", "maintain")])
        return cycles

    # -- set-up -----------------------------------------------------------
    def setup(self, seed: int, rep: int):
        from iceberg_cpp_spark import IceTable

        spark, n = self.spark, self.rows
        root = os.path.join(self.work, f"lake_ingest{rep}")
        rng = np.random.default_rng([seed, 4])
        cols = li_rows(rng, rng.permutation(n), self.DAYS)
        t = li_table(spark, os.path.join(root, "lineitem"),
                     spark.createDataFrame([], LI_SCHEMA).schema)
        for part in np.array_split(np.arange(n), 2):
            t = t.append(to_spark(spark, {c: v[part] for c, v in cols.items()}))
        model = Model()
        model.upsert_cols(cols)
        loc = t.location()
        return {"root": root, "loc": loc, "t": IceTable.load(spark, loc),
                "model": model, "rows_submitted": 0}

    def corrupt(self, st) -> None:
        st["model"].count += 1

    # -- the loop ---------------------------------------------------------
    def execute(self, st, o, timer, tr) -> None:
        from pyspark.sql import functions as F

        from iceberg_cpp_spark.plans import expressions as ex

        p, t, model = o.p, st["t"], st["model"]
        cols = {c: np.array(v) for c, v in p["rows"]} if "rows" in p else None
        n_in = len(cols["k"]) if cols else 0
        st["rows_submitted"] += n_in
        if n_in:
            tr.add("write.batch_rows", n_in)
        with timer.part(o.group):
            if o.kind == "append":
                t.append(to_spark(self.spark, cols))
            elif o.kind in ("cdc_unique", "cdc_dup_heavy"):
                pdf = arrow_rows(cols).to_pandas()
                pdf["_op"], pdf["seq"] = list(p["ops"]), list(p["seq"])
                changes = self.spark.createDataFrame(
                    pdf, LI_SCHEMA + ", _op string, seq long")
                shape = "unique" if o.kind == "cdc_unique" else "dup_heavy"
                files_before = int(summary(t).get("total-data-files", 0))
                with tr.span(f"write.apply_changes.{shape}") as s:
                    t = t.apply_changes(changes, on=["k"], seq_col="seq")
                if s is not None:
                    write_counters(s, t, files_before)
            elif o.kind == "merge_into":
                t.merge_into(to_spark(self.spark, cols), on=["k"])
            elif o.kind in ("delete_mor", "delete_dv"):
                mode = "merge-on-read" if o.kind == "delete_mor" else "deletion-vector"
                t.delete_where(ex.and_(ex.gt_eq(ref("k"), p["lo"]),
                                       ex.lt(ref("k"), p["hi"])), mode=mode)
            elif o.kind == "register":
                t.commit_files_df(self._external_files(st, t, cols))
            elif o.kind == "rewrite_data_files":
                t.rewrite_data_files()
            elif o.kind == "expire_snapshots":
                t.expire_snapshots(keep_last=p["keep_last"])
            elif o.kind == "rewrite_manifests":
                t.rewrite_manifests()
            else:
                raise ValueError(o.kind)
        # the model follows the op's semantics
        if o.kind in ("append", "merge_into", "register"):
            model.upsert_cols(cols)
        elif o.kind in ("cdc_unique", "cdc_dup_heavy"):
            model.apply_changes(cols, p["ops"], p["seq"])
        elif o.kind in ("delete_mor", "delete_dv"):
            model.delete_range(p["lo"], p["hi"])
        with timer.part("metadata"):
            from iceberg_cpp_spark import IceTable

            st["t"] = IceTable.load(self.spark, st["loc"])
        with timer.part("read_full"):
            rows = collect(st["t"].scan().to_df().agg(
                F.count("*"), F.sum("k"), F.sum("price_c")), tr)
        got = tuple(int(v or 0) for v in rows[0])
        expect(got, (model.count, model.sum_k, model.sum_price),
               "verifying read (count, sum k, sum price)")

    def _external_files(self, st, t, cols):
        """Write ``cols`` as one parquet file per month, the way an outside
        writer would, and describe them for commit_files_df."""
        import pyarrow.parquet as pq

        from iceberg_cpp_spark.core import manifests as mf
        from iceberg_cpp_spark.core.metrics import _field_map, _metrics_json

        schema, spec = t.schema(), t.spec()
        ids = {f: schema.find_field(f).field_id
               for f in ("k", "o", "ship", "qty", "price_c", "flag")}
        fields = _field_map(schema)
        out_dir = os.path.join(st["loc"], "data", "external")
        os.makedirs(out_dir, exist_ok=True)
        month = np.searchsorted(MONTH_STARTS, cols["ship"], side="right") - 1
        rows = []
        for m in np.unique(month).tolist():
            sel = month == m
            path = os.path.join(out_dir, f"{uuid.uuid4().hex}.parquet")
            pq.write_table(arrow_rows({c: v[sel] for c, v in cols.items()}, ids), path)
            part = mf.partition_to_json({"ship_month": (2023 - 1970) * 12 + m}, spec, schema)
            rows.append((path, int(sel.sum()), os.path.getsize(path), part,
                         _metrics_json(path, fields)))
        return self.spark.createDataFrame(
            rows, "file_path string, record_count long, file_size_in_bytes long, "
                  "partition_json string, metrics_json string")

    def final_check(self, st) -> None:
        """The whole table against the model, row by row."""
        rows = st["t"].scan().to_df().select("k", "o", "ship", "qty", "price_c",
                                             "flag").collect()
        got = {r[0]: (r[1], (r[2] - DAY0).days, r[3], r[4], r[5]) for r in rows}
        if len(got) != len(rows):
            raise WrongResult("duplicate keys in the table")
        want = {k: (v[0], v[1], v[2], v[3], str(FLAGS[v[4]]))
                for k, v in st["model"].rows.items()}
        if got != want:
            diff = set(got.items()) ^ set(want.items())
            raise WrongResult(f"table differs from the model in {len(diff)} rows")

    # -- reporting --------------------------------------------------------
    def sizes(self, st) -> dict:
        s = summary(st["t"])
        return {"rows": st["model"].count,
                "files": int(s.get("total-data-files", 0)),
                "delete_files": int(s.get("total-delete-files", 0)),
                "snapshots": len(st["t"].snapshots()),
                "table_bytes": dir_bytes(st["loc"])}

    def tables(self, st) -> list:
        return [st["t"]]


class Model:
    """Row model of the ingest table: key -> (o, ship, qty, price_c, flag),
    with the count and checksums the verifying reads compare."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.count = self.sum_k = self.sum_price = 0

    def _put(self, k, row) -> None:
        self._drop(k)
        self.rows[k] = row
        self.count += 1
        self.sum_k += k
        self.sum_price += row[3]

    def _drop(self, k) -> None:
        old = self.rows.pop(k, None)
        if old is not None:
            self.count -= 1
            self.sum_k -= k
            self.sum_price -= old[3]

    def _row(self, cols, i):
        return (int(cols["o"][i]), int(cols["ship"][i]), int(cols["qty"][i]),
                int(cols["price_c"][i]), int(cols["flag"][i]))

    def upsert_cols(self, cols) -> None:
        for i, k in enumerate(cols["k"].tolist()):
            self._put(k, self._row(cols, i))

    def apply_changes(self, cols, ops, seq) -> None:
        for i in np.argsort(np.asarray(seq), kind="stable").tolist():
            k = int(cols["k"][i])
            if ops[i] == "D":
                self._drop(k)
            else:
                self._put(k, self._row(cols, i))

    def delete_range(self, lo, hi) -> None:
        for k in [k for k in self.rows if lo <= k < hi]:
            self._drop(k)

