"""Seeded, vectorised binlog generator and the file publisher.

The generator shares no code with the engine: numpy draws the log, pyarrow
encodes it as parquet files with the engine's event envelope
(``schema.EVENT_SCHEMA``). Every file is built in memory during setup; the
publisher only writes those bytes, each through a temp name plus a rename,
so the file source never lists a partial file (names starting with ``.``
are hidden from it).
"""

from __future__ import annotations

import io
import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cdcbench.workloads import Workload

BASE_COLUMNS = ["commit", "lang", "content"]
DDL_COLUMNS = ["stars", "license"]
LANGS = np.array(["python", "java", "scala", "go", "rust"])
LICENSES = np.array(["mit", "apache-2.0", "gpl-3.0", "bsd-3"])
#: Zipf exponent of the key choice for ordinary row events (moderate skew)
ZIPF_A = 0.8
#: content cell length range of ordinary rows, in characters
CONTENT_LEN = (40, 160)
#: 2024-03-01T00:00:00Z in microseconds
TS_BASE_US = 1_709_251_200_000_000
DAY_US = 86_400_000_000

MAP = pa.map_(pa.string(), pa.string())
ARROW_SCHEMA = pa.schema(
    [
        ("log_file", pa.string()),
        ("log_pos", pa.int64()),
        ("gtid", pa.string()),
        ("gtid_seq", pa.int64()),
        ("txn_id", pa.int64()),
        ("seq_in_txn", pa.int32()),
        ("server_id", pa.int32()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("op", pa.string()),
        ("schema_version", pa.int32()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("before", MAP),
        ("after", MAP),
        ("ddl", pa.string()),
    ]
)


@dataclass
class BinlogFile:
    name: str
    data: bytes
    rows: int  # row events (I/U/D)
    #: highest gtid of a row-bearing transaction that COMMITS in this file
    #: (-1 if none) — the file is fresh once a snapshot covers it
    cover_gtid: int


@dataclass
class GeneratedLog:
    events: pa.Table  # every event, in log order
    bootstrap: list[BinlogFile]
    warmup: list[BinlogFile]
    timed: list[BinlogFile]
    final_columns: list[str]
    row_events: int
    timed_row_events: int


def key_strings(keys: np.ndarray) -> tuple[pa.Array, pa.Array]:
    k = pa.array(keys.astype(np.int64))
    ks = pc.cast(k, pa.string())
    repo = pc.binary_join_element_wise(
        "org", pc.cast(pa.array(keys % 40), pa.string()), "/r", pc.cast(pa.array(keys % 997), pa.string()), ""
    )
    path = pc.binary_join_element_wise("src/m", ks, ".py", "")
    return repo, path


def random_text(rng: np.random.Generator, lengths: np.ndarray) -> pa.Array:
    """One random lower-case string per length, built straight into an
    Arrow buffer (no per-row Python)."""
    lengths = lengths.astype(np.int64)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    data = rng.integers(97, 123, size=int(offsets[-1]), dtype=np.uint8)
    return pa.LargeStringArray.from_buffers(
        len(lengths), pa.py_buffer(offsets), pa.py_buffer(data)
    ).cast(pa.string())


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int, a: float, lo: int) -> np.ndarray:
    ranks = np.arange(1, n_keys - lo + 1, dtype=np.float64)
    p = ranks**-a
    p /= p.sum()
    # a seeded permutation decouples popularity from key id (and bucket)
    perm = rng.permutation(n_keys - lo) + lo
    return perm[rng.choice(n_keys - lo, size=size, p=p)]


def _ts_array(gtid: np.ndarray, n_units: int, days: float) -> pa.Array:
    us = TS_BASE_US + (gtid.astype(np.float64) * (days * DAY_US) / max(n_units, 1)).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def generate(w: Workload, seed: int, seconds: float) -> GeneratedLog:
    rng = np.random.default_rng(seed)

    # ---- how many row events -------------------------------------------------
    if w.open_loop:
        n_timed_files = max(1, int(round(seconds / w.file_interval_s)))
    else:
        n_timed_files = max(1, int(np.ceil(w.rows_per_s * seconds / w.rows_per_file)))
    n_log_rows = (w.warmup_files + n_timed_files) * w.rows_per_file

    # ---- transactions and DDL units -------------------------------------------
    lo, hi = w.txn_rows
    sizes = rng.integers(lo, hi + 1, size=n_log_rows // max(lo, 1) + 1)
    csum = np.cumsum(sizes)
    n_txns = int(np.searchsorted(csum, n_log_rows)) + 1
    sizes = sizes[:n_txns]
    sizes[-1] -= int(csum[n_txns - 1] - n_log_rows)  # exact row total
    if sizes[-1] <= 0:
        sizes = sizes[:-1]
        n_txns -= 1
    # DDLs land at evenly spaced points of the TIMED part of the log
    warm_rows = w.warmup_files * w.rows_per_file
    ddl_txn_pos = []
    for j in range(w.ddls):
        target = warm_rows + (j + 1) * (n_log_rows - warm_rows) // (w.ddls + 1)
        ddl_txn_pos.append(int(np.searchsorted(np.cumsum(sizes), target)))
    n_units = n_txns + w.ddls
    is_ddl = np.zeros(n_units, dtype=bool)
    for j, p in enumerate(ddl_txn_pos):
        is_ddl[p + j] = True
    unit_rows = np.zeros(n_units, dtype=np.int64)
    unit_rows[~is_ddl] = sizes
    unit_events = np.where(is_ddl, 1, unit_rows + 2)
    gtid_of_unit = np.arange(1, n_units + 1, dtype=np.int64)
    schema_version_of_unit = 1 + np.cumsum(is_ddl)  # a DDL unit carries its new version

    # ---- log events (BEGIN, rows, COMMIT / DDL) --------------------------------
    n_ev = int(unit_events.sum())
    unit_of_ev = np.repeat(np.arange(n_units), unit_events)
    start = np.zeros(n_units, dtype=np.int64)
    np.cumsum(unit_events[:-1], out=start[1:])
    pos = np.arange(n_ev) - start[unit_of_ev]
    ddl_ev = is_ddl[unit_of_ev]
    commit_ev = ~ddl_ev & (pos == unit_rows[unit_of_ev] + 1)
    begin_ev = ~ddl_ev & (pos == 0)
    row_ev = ~ddl_ev & ~commit_ev & ~begin_ev
    n_rows = int(row_ev.sum())  # == n_log_rows

    # row ops and keys
    r = rng.random(n_rows)
    ops = np.where(r < w.p_insert, "I", np.where(r < w.p_insert + w.p_delete, "D", "U"))
    keys = _zipf_keys(rng, w.n_keys, n_rows, ZIPF_A, lo=1 + w.fat_keys)
    hot = np.zeros(n_rows, dtype=bool)
    if w.fat_keys:
        # the fat keys get four times a uniform key's share of the traffic,
        # all as narrow partial updates, so their fat cells stay in the table
        # and the merge's matched-old-image side carries them every epoch
        fat_pick = rng.random(n_rows) < w.fat_keys / w.n_keys * 4
        keys[fat_pick] = rng.integers(1, 1 + w.fat_keys, size=int(fat_pick.sum()))
        ops[fat_pick & (ops != "U")] = "U"
    if w.hot_share:
        hot = rng.random(n_rows) < w.hot_share
        keys[hot] = 0
        ops[hot] = "U"

    # ---- cells: which columns each row event carries ---------------------------
    row_unit = unit_of_ev[row_ev]
    sv_row = schema_version_of_unit[row_unit]
    all_cols = BASE_COLUMNS + DDL_COLUMNS[: w.ddls]
    n_cols = len(all_cols)
    col_live = np.arange(n_cols)[None, :] < (len(BASE_COLUMNS) + sv_row - 1)[:, None]
    is_i = ops == "I"
    is_u = ops == "U"
    partial = (rng.random((n_rows, n_cols)) < 0.4) & col_live
    none_picked = is_u & ~partial.any(axis=1)
    partial[none_picked, 2] = True  # an update changes at least the content
    present = np.where(is_i[:, None], col_live, partial & is_u[:, None])
    if w.fat_keys:
        fat_row = (keys >= 1) & (keys <= w.fat_keys)
        present[fat_row] = False
        present[fat_row, 0] = True  # fat rows: narrow commit-only updates
        present[fat_row, 1] = rng.random(int(fat_row.sum())) < 0.5
    if w.hot_share:
        present[hot] = False
        present[hot, 2] = True  # hot key: content-only partial updates

    gtid_row = gtid_of_unit[row_unit]
    seq_row = pos[row_ev]
    content_len = rng.integers(CONTENT_LEN[0], CONTENT_LEN[1] + 1, size=n_rows)
    if w.hot_share:
        content_len[hot] = w.hot_content_len
    log_cells = _cell_values(rng, all_cols, present, gtid_row, seq_row, content_len)

    # ---- bootstrap ---------------------------------------------------------
    bkeys = np.arange(w.n_keys)
    b_len = rng.integers(CONTENT_LEN[0], CONTENT_LEN[1] + 1, size=w.n_keys)
    if w.fat_keys:
        b_len[1 : 1 + w.fat_keys] = w.fat_content_len
    if w.hot_share:
        b_len[0] = w.hot_content_len
    b_present = np.zeros((w.n_keys, n_cols), dtype=bool)
    b_present[:, : len(BASE_COLUMNS)] = True
    b_cells = _cell_values(rng, all_cols, b_present, np.zeros(w.n_keys, np.int64), bkeys, b_len)

    # ---- assemble the tables ------------------------------------------------
    boot = _table(
        n=w.n_keys,
        log_pos=np.arange(w.n_keys, dtype=np.int64) + 4,
        gtid=np.zeros(w.n_keys, np.int64),
        txn_id=np.full(w.n_keys, -1, np.int64),
        seq=bkeys.astype(np.int32),
        ts=pa.array(np.full(w.n_keys, TS_BASE_US), type=pa.timestamp("us", tz="UTC")),
        op=np.full(w.n_keys, "I"),
        sv=np.ones(w.n_keys, np.int32),
        keys=bkeys,
        key_mask=np.ones(w.n_keys, bool),
        after=b_cells,
        ddl=pa.nulls(w.n_keys, pa.string()),
    )

    ev_keys = np.zeros(n_ev, dtype=np.int64)
    ev_keys[row_ev] = keys
    ev_ops = np.empty(n_ev, dtype=object)
    ev_ops[begin_ev] = "BEGIN"
    ev_ops[commit_ev] = "COMMIT"
    ev_ops[ddl_ev] = "DDL"
    ev_ops[row_ev] = ops
    ev_seq = np.where(commit_ev, 99, pos).astype(np.int32)
    ev_gtid = gtid_of_unit[unit_of_ev]
    ev_txn = np.where(ddl_ev, -1, ev_gtid)
    ddl_texts = [f"ALTER TABLE repos ADD COLUMN {c} varchar(64)" for c in DDL_COLUMNS[: w.ddls]]
    ddl_arr = np.empty(n_ev, dtype=object)
    ddl_arr[begin_ev] = "BEGIN"
    ddl_arr[commit_ev] = "COMMIT"
    ddl_idx = np.nonzero(ddl_ev)[0]
    for j, i in enumerate(ddl_idx):
        ddl_arr[i] = ddl_texts[j]
    after_null = ~row_ev
    after_null[row_ev] = ops == "D"
    after_full = _spread_maps(log_cells, row_ev, after_null)
    log = _table(
        n=n_ev,
        log_pos=np.arange(n_ev, dtype=np.int64) + 4 + w.n_keys,
        gtid=ev_gtid,
        txn_id=ev_txn,
        seq=ev_seq,
        ts=_ts_array(ev_gtid, n_units, w.ts_days),
        op=ev_ops,
        sv=schema_version_of_unit[unit_of_ev].astype(np.int32),
        keys=ev_keys,
        key_mask=row_ev,
        after=after_full,
        ddl=pa.array(ddl_arr, type=pa.string()),
    )

    # ---- cut into files --------------------------------------------------------
    bootstrap = [_encode("boot-00000", boot, rows=w.n_keys, cover=0)]
    # cut points: every rows_per_file ROW events. Closed-loop workloads
    # (no txn buffering) cut at transaction ends so files stay txn-atomic;
    # the open-loop workload cuts at the row itself, so transactions
    # straddle files
    row_idx = np.nonzero(row_ev)[0]
    n_files = w.warmup_files + n_timed_files
    cuts = [0]
    for f in range(1, n_files):
        at = int(row_idx[f * w.rows_per_file])
        if not w.buffer_transactions:
            at = int(start[unit_of_ev[at]])  # start of that row's unit
        cuts.append(at)
    cuts.append(n_ev)
    unit_end = start + unit_events - 1  # event index of a unit's last event
    files = []
    for f in range(n_files):
        a, b = cuts[f], cuts[f + 1]
        done = (unit_end >= a) & (unit_end < b) & ~is_ddl
        cover = int(gtid_of_unit[done].max()) if done.any() else -1
        files.append(
            _encode(f"log-{f:05d}", log.slice(a, b - a), rows=int(row_ev[a:b].sum()), cover=cover)
        )
    warm = files[: w.warmup_files]
    timed = files[w.warmup_files :]
    return GeneratedLog(
        events=pa.concat_tables([boot, log]),
        bootstrap=bootstrap,
        warmup=warm,
        timed=timed,
        final_columns=all_cols,
        row_events=w.n_keys + n_rows,
        timed_row_events=sum(f.rows for f in timed),
    )


def _cell_values(rng, cols, present, gtid, seq, content_len) -> pa.Array:
    """Map array (one map per row) holding the present cells."""
    n = present.shape[0]
    per_col = []
    for c, name in enumerate(cols):
        idx = np.nonzero(present[:, c])[0]
        if name == "content":
            v = random_text(rng, content_len[idx])
        elif name == "commit":
            v = pc.binary_join_element_wise(
                "c", pc.cast(pa.array(gtid[idx]), pa.string()), ".", pc.cast(pa.array(seq[idx]), pa.string()), ""
            )
        elif name == "lang":
            v = pa.array(LANGS[rng.integers(0, len(LANGS), size=len(idx))])
        elif name == "stars":
            v = pc.cast(pa.array(rng.integers(0, 100_000, size=len(idx))), pa.string())
        else:
            v = pa.array(LICENSES[rng.integers(0, len(LICENSES), size=len(idx))])
        per_col.append(v)
    col_off = np.concatenate([[0], np.cumsum([len(v) for v in per_col])])
    rank = np.cumsum(present, axis=0) - 1
    rr, cc = np.nonzero(present)  # row-major: by row, then column order
    take = col_off[cc] + rank[rr, cc]
    items = pa.concat_arrays(per_col).take(pa.array(take))
    keys = pa.array(np.array(cols, dtype=object)[cc], type=pa.string())
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(present.sum(axis=1), out=offsets[1:])
    return pa.MapArray.from_arrays(pa.array(offsets), keys, items)


def _spread_maps(cells: pa.MapArray, mask: np.ndarray, null: np.ndarray) -> pa.Array:
    """Place the per-row maps at the ``mask`` positions of a longer array;
    positions flagged in ``null`` (control events, deletes) are NULL maps."""
    n = len(mask)
    counts = np.zeros(n, dtype=np.int32)
    sizes = np.diff(cells.offsets.to_numpy())
    counts[mask] = sizes
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.MapArray.from_arrays(
        pa.array(offsets, mask=np.concatenate([null, [False]])), cells.keys, cells.items
    )


def _table(*, n, log_pos, gtid, txn_id, seq, ts, op, sv, keys, key_mask, after, ddl) -> pa.Table:
    repo, path = key_strings(keys)
    null_keys = pa.array(~key_mask)
    repo = pc.if_else(null_keys, pa.scalar(None, pa.string()), repo)
    path = pc.if_else(null_keys, pa.scalar(None, pa.string()), path)
    gtid_str = pc.binary_join_element_wise("uuid1:", pc.cast(pa.array(gtid), pa.string()), "")
    return pa.Table.from_arrays(
        [
            pa.array(np.full(n, "binlog.000001"), type=pa.string()),
            pa.array(log_pos, type=pa.int64()),
            gtid_str,
            pa.array(gtid, type=pa.int64()),
            pa.array(txn_id, type=pa.int64()),
            pa.array(seq, type=pa.int32()),
            pa.array(np.ones(n, np.int32), type=pa.int32()),
            ts,
            pa.array(op, type=pa.string()),
            pa.array(sv, type=pa.int32()),
            repo,
            path,
            pa.nulls(n, MAP),
            after,
            ddl,
        ],
        schema=ARROW_SCHEMA,
    )


def _encode(name: str, table: pa.Table, rows: int, cover: int) -> BinlogFile:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return BinlogFile(name=name + ".parquet", data=buf.getvalue(), rows=rows, cover_gtid=cover)


class Publisher:
    """Writes prepared files into the binlog directory at their due times
    (one thread). ``publish_now`` is the synchronous form used for the
    bootstrap, warm-up and closed-loop backlog."""

    def __init__(self, binlog_dir: str):
        self.dir = binlog_dir
        os.makedirs(binlog_dir, exist_ok=True)
        self._last_ns = 0
        self.due: list[float] = []
        self.published: list[float] = []
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()
        self.error: BaseException | None = None

    def _write(self, f: BinlogFile) -> float:
        tmp = os.path.join(self.dir, "." + f.name + ".tmp")
        with open(tmp, "wb") as fh:
            fh.write(f.data)
        # strictly increasing mtimes: the file source orders by mtime
        ns = max(time.time_ns(), self._last_ns + 1_000_000)
        self._last_ns = ns
        os.utime(tmp, ns=(ns, ns))
        os.rename(tmp, os.path.join(self.dir, f.name))
        return time.time()

    def publish_now(self, files: list[BinlogFile]) -> None:
        for f in files:
            now = time.time()
            self.due.append(now)
            self.published.append(self._write(f))

    def start_schedule(self, files: list[BinlogFile], t0: float, interval: float) -> list[float]:
        """Open loop: file i is due at ``t0 + i * interval``."""
        due = [t0 + i * interval for i in range(len(files))]

        def run() -> None:
            try:
                for f, d in zip(files, due):
                    delay = d - time.time()
                    if delay > 0 and self._stop.wait(delay):
                        return
                    self.due.append(d)
                    self.published.append(self._write(f))
            except Exception as e:  # reported by join(); the run is invalid
                self.error = e

        self._thread = threading.Thread(target=run, name="cdcbench-publisher", daemon=True)
        self._thread.start()
        return due

    def join(self, timeout: float | None = None) -> None:
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                self._stop.set()
                self._thread.join()
        if self.error is not None:
            raise self.error

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
