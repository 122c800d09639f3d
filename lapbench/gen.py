"""Seeded BDE repository generator for the uploader lap.

Writes ``.crs`` datasets shaped like TPC-H tables (orders, customer, part,
supplier, lineitem) and returns, by construction, what a correct uploader
must leave behind: the final rows of every target table and the
``upload_stats`` counters of every (table, dataset) apply.

The same seed and scale always give byte-identical files. Text cells carry
characters the cleaning pass rewrites (NBSP, a C1 control, guillemets) in a
fixed share of cells; the expected rows hold the cleaned values.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: share of text cells written with characters the cleaning pass rewrites
DIRTY_SHARE = 1 / 16
#: share of nullable text cells written empty (the format's NULL)
NULL_SHARE = 1 / 50
#: level-5 churn per dataset, and how a churned key is split across actions
L5_CHURN = 0.02
L5_MIX = {"U": 0.40, "0": 0.25, "D": 0.15, "I": 0.20}
#: share of change-table rows whose declared action disagrees with the data
L5_MISLABEL = 0.10
#: level-5 datasets in the repository; all but the last are applied while
#: setting up, so a rep's apply follows a level-5 watermark (continuity chain)
L5_DATASETS = 2
#: -full-incremental: share of rows the second snapshot changes
FULL_CHURN = 0.02
FULL_MIX = {"U": 0.50, "D": 0.25, "I": 0.25}

L0_DATASET = "20240101000000"
L0_SECOND = "20240201000000"
L5_FIRST_DAY = 2  # level-5 dataset k is dated 2024-01-(k+2)

#: TPC-H row counts at scale factor 1
BASE_ROWS = {"orders": 1_500_000, "customer": 150_000, "part": 200_000,
             "supplier": 10_000, "lineitem": 6_000_000}

#: (name, .crs type); the first column of a keyed table is its key
SCHEMAS = {
    "orders": [("o_orderkey", "bigint NOT NULL"), ("o_custkey", "bigint"),
               ("o_orderstatus", "char(1)"), ("o_totalprice", "decimal(15,2)"),
               ("o_orderdate", "datetime"), ("o_orderpriority", "varchar(15)"),
               ("o_comment", "varchar(79)")],
    "customer": [("c_custkey", "bigint NOT NULL"), ("c_name", "varchar(25)"),
                 ("c_nationkey", "integer"), ("c_acctbal", "decimal(15,2)"),
                 ("c_mktsegment", "char(10)"), ("c_comment", "varchar(117)")],
    "part": [("p_partkey", "bigint NOT NULL"), ("p_name", "varchar(55)"),
             ("p_brand", "char(10)"), ("p_type", "varchar(25)"),
             ("p_size", "integer"), ("p_retailprice", "decimal(15,2)"),
             ("p_comment", "varchar(23)")],
    "supplier": [("s_suppkey", "bigint NOT NULL"), ("s_name", "char(25)"),
                 ("s_nationkey", "integer"), ("s_acctbal", "decimal(15,2)"),
                 ("s_comment", "varchar(101)")],
    "lineitem": [("l_orderkey", "bigint NOT NULL"), ("l_partkey", "bigint"),
                 ("l_suppkey", "bigint"), ("l_linenumber", "integer"),
                 ("l_quantity", "decimal(15,2)"), ("l_extendedprice", "decimal(15,2)"),
                 ("l_discount", "decimal(15,2)"), ("l_tax", "decimal(15,2)"),
                 ("l_returnflag", "char(1)"), ("l_linestatus", "char(1)"),
                 ("l_shipdate", "datetime"), ("l_comment", "varchar(44)")],
}
KEYED = ["orders", "customer", "part", "supplier"]
#: tables the level-5 and full-incremental workloads load and change: a table
#: apply costs about the same whatever its size, so the smallest keyed table
#: is left out
DIFF_TABLES = ["orders", "customer", "part"]
CHANGE_TABLE = "l5_change_table"
CHANGE_FILE = "xaud"
CHANGE_SCHEMA = [("id", "integer"), ("tablename", "varchar"),
                 ("tablekeyvalue", "bigint"), ("action", "varchar"),
                 ("timestamp", "datetime")]

_WORDS = (
    "carefully final deposits sleep quickly among the furiously regular "
    "packages pending requests haggle blithely express accounts wake slyly "
    "ironic theodolites boost bold foxes cajole silent pinto beans nag "
    "unusual instructions integrate daring platelets detect special ideas"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "MEDIUM BURNISHED NICKEL",
          "LARGE BRUSHED BRASS", "ECONOMY POLISHED STEEL", "PROMO ANODIZED TIN"]
_EPOCH = np.datetime64("1992-01-01T00:00:00", "us")


def tables_conf(tables: list[str]) -> str:
    """The ``tables.conf`` of a repository holding ``tables``."""
    lines = [f"TABLE {CHANGE_TABLE} files {CHANGE_FILE}"]
    lines += [f"TABLE {t} key={SCHEMAS[t][0][0]} files {t}" for t in tables if t in KEYED]
    lines += [f"TABLE {t} l0_only files {t}" for t in tables if t not in KEYED]
    return "\n".join(lines) + "\n"


# -- values ------------------------------------------------------------------


def _text(rng, n: int, words: int) -> pa.Array:
    vocab = pa.array(_WORDS)
    parts = [vocab.take(pa.array(rng.integers(0, len(_WORDS), n))) for _ in range(words)]
    return pc.binary_join_element_wise(*parts, " ")


def _choice(rng, n: int, options: list[str]) -> pa.Array:
    return pa.array(options).take(pa.array(rng.integers(0, len(options), n)))


def _named(prefix: str, keys: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        prefix, pc.utf8_lpad(pc.cast(pa.array(keys), pa.string()), 9, "0"), "")


def _days(rng, n: int) -> np.ndarray:
    return _EPOCH + rng.integers(0, 2400, n).astype("timedelta64[D]")


def _columns(table: str, keys: np.ndarray, rng) -> dict[str, object]:
    """Clean column values for ``keys``: numpy arrays for numbers (decimals
    in integer cents, datetimes as datetime64) and arrow arrays for text."""
    n = len(keys)
    if table == "orders":
        return {"o_orderkey": keys, "o_custkey": rng.integers(1, 15_000, n),
                "o_orderstatus": _choice(rng, n, ["F", "O", "P"]),
                "o_totalprice": rng.integers(90_000, 50_000_000, n),
                "o_orderdate": _days(rng, n),
                "o_orderpriority": _choice(rng, n, _PRIORITIES),
                "o_comment": _text(rng, n, 5)}
    if table == "customer":
        return {"c_custkey": keys, "c_name": _named("Customer#", keys),
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": rng.integers(-99_999, 999_999, n),
                "c_mktsegment": _choice(rng, n, _SEGMENTS),
                "c_comment": _text(rng, n, 7)}
    if table == "part":
        return {"p_partkey": keys, "p_name": _text(rng, n, 4),
                "p_brand": _choice(rng, n, [f"Brand#{i}{j}" for i in range(1, 6)
                                            for j in range(1, 6)]),
                "p_type": _choice(rng, n, _TYPES),
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": rng.integers(90_000, 210_000, n),
                "p_comment": _text(rng, n, 3)}
    if table == "supplier":
        return {"s_suppkey": keys, "s_name": _named("Supplier#", keys),
                "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "s_acctbal": rng.integers(-99_999, 999_999, n),
                "s_comment": _text(rng, n, 6)}
    return {"l_orderkey": keys, "l_partkey": rng.integers(1, 20_000, n),
            "l_suppkey": rng.integers(1, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(100, 5_100, n),
            "l_extendedprice": rng.integers(90_000, 10_000_000, n),
            "l_discount": rng.integers(0, 11, n), "l_tax": rng.integers(0, 9, n),
            "l_returnflag": _choice(rng, n, ["A", "N", "R"]),
            "l_linestatus": _choice(rng, n, ["F", "O"]),
            "l_shipdate": _days(rng, n), "l_comment": _text(rng, n, 4)}


def _decimal_text(cents: np.ndarray) -> pa.Array:
    """Integer cents rendered as ``[-]units.cc``."""
    sign = np.where(cents < 0, "-", "")
    mag = np.abs(cents)
    return pc.binary_join_element_wise(
        pa.array(sign),
        pc.binary_join_element_wise(
            pc.cast(pa.array(mag // 100), pa.string()),
            pc.utf8_lpad(pc.cast(pa.array(mag % 100), pa.string()), 2, "0"), "."),
        "")


def _is_text(crs_type: str) -> bool:
    return crs_type.startswith(("char", "varchar"))


def _is_decimal(crs_type: str) -> bool:
    return crs_type.startswith("decimal")


def _dirty(s: str, variant: int) -> tuple[str, str]:
    """(raw cell, cleaned cell): NBSP → space, C1 control deleted,
    guillemets → double quote (the cleaner's character map)."""
    if variant == 0:
        return s.replace(" ", " ", 1), s
    if variant == 1:
        return s[:1] + "\u0085" + s[1:], s
    return "«" + s + "»", '"' + s + '"'


@dataclass
class Rows:
    """One table's rows: the cleaned values a correct load must produce and
    the raw ``.crs`` cells that encode them (text cells may be dirty)."""

    table: str
    expected: pa.Table
    raw: list[pa.Array]

    @property
    def keys(self) -> np.ndarray:
        return self.expected.column(0).to_numpy()

    def take(self, idx) -> "Rows":
        idx = pa.array(idx, pa.int64())
        return Rows(self.table, self.expected.take(idx), [a.take(idx) for a in self.raw])

    def concat(self, other: "Rows") -> "Rows":
        return Rows(self.table, pa.concat_tables([self.expected, other.expected]),
                    [pa.concat_arrays([a, b]) for a, b in zip(self.raw, other.raw)])

    def sorted(self) -> "Rows":
        return self.take(np.argsort(self.keys, kind="stable"))


def make_rows(table: str, keys: np.ndarray, rng) -> Rows:
    cols = _columns(table, keys, rng)
    n = len(keys)
    expected, raw = [], []
    for name, crs_type in SCHEMAS[table]:
        v = cols[name]
        if _is_decimal(crs_type):
            txt = _decimal_text(v)
            expected.append(pc.cast(txt, pa.float64()))
            raw.append(txt)
        elif crs_type == "datetime":
            ts = pa.array(v, pa.timestamp("us"))
            expected.append(ts)
            raw.append(pc.strftime(ts, "%Y-%m-%d %H:%M:%S"))
        elif _is_text(crs_type):
            clean = np.asarray(v.to_pylist(), dtype=object)
            cells = clean.copy()
            dirty = np.flatnonzero(rng.random(n) < DIRTY_SHARE)
            for i, variant in zip(dirty, rng.integers(0, 3, len(dirty))):
                cells[i], clean[i] = _dirty(clean[i], int(variant))
            if name.endswith("_comment"):
                nulls = rng.random(n) < NULL_SHARE
                clean[nulls] = None
                cells[nulls] = None
            expected.append(pa.array(clean, pa.string()))
            raw.append(pa.array(cells, pa.string()))
        else:
            typ = pa.int64() if crs_type.startswith("bigint") else pa.int32()
            expected.append(pa.array(v, typ))
            raw.append(pc.cast(expected[-1], pa.string()))
    names = [c for c, _ in SCHEMAS[table]]
    return Rows(table, pa.table(expected, names=names), raw)


def _restate(rows: Rows, rng) -> Rows:
    """The same cleaned rows, with text cells re-encoded: an unchanged row
    restated in a change file (a null update) may arrive dirty."""
    raw = list(rows.raw)
    for i, (_, crs_type) in enumerate(SCHEMAS[rows.table]):
        if not _is_text(crs_type):
            continue
        cells = np.asarray(rows.expected.column(i).to_pylist(), dtype=object)
        for j in np.flatnonzero(rng.random(len(cells)) < DIRTY_SHARE * 4):
            s = cells[j]
            if s is not None and " " in s:
                cells[j] = _dirty(s, 0)[0]
        raw[i] = pa.array(cells, pa.string())
    return Rows(rows.table, rows.expected, raw)


def _update(rows: Rows, rng) -> Rows:
    """Rows with one non-key value changed in every row, so the keyed
    compare must classify each of them as an update."""
    fresh = make_rows(rows.table, rows.keys, rng)
    # the first price/balance column moves by 1..99 cents, so it always differs
    names = rows.expected.column_names
    col = next(i for i, (_, t) in enumerate(SCHEMAS[rows.table]) if _is_decimal(t))
    cents = np.round(rows.expected.column(col).to_numpy() * 100).astype(np.int64)
    cents = cents + rng.integers(1, 100, len(cents))
    txt = _decimal_text(cents)
    expected = fresh.expected.set_column(col, names[col], pc.cast(txt, pa.float64()))
    raw = list(fresh.raw)
    raw[col] = txt
    return Rows(rows.table, expected, raw)


# -- files ---------------------------------------------------------------------


def crs_text(table: str, raw: list[pa.Array], start: str, end: str) -> str:
    header = ["HEDR 1.0.0", "SOFTWARE lapbench", "SCHEMA bde", "USER lapbench",
              f"START {start}", f"END {end}", f"SQL SELECT * FROM {table}",
              f"TABLE {table}"]
    header += [f"COLUMN {c} {t}" for c, t in SCHEMAS.get(table, CHANGE_SCHEMA)]
    header += [f"DESC generated {table}", f"SIZE {len(raw[0])}", "{CRS-DATA}"]
    # every field ends in '|', the last one too
    lines = pc.binary_join_element_wise(
        *raw, pa.array([""] * len(raw[0])), "|",
        null_handling="replace", null_replacement="")
    return "\n".join(header + lines.to_pylist()) + "\n"


def _write(path: str, text: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = text.encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _stamp(day: int) -> str:
    return f"2024-01-{day:02d} 06:00:00"


# -- workloads -------------------------------------------------------------------


@dataclass
class Generated:
    """A generated repository and what a correct uploader makes of it."""

    repo: str
    #: final cleaned rows per table after the workload's apply
    expected: dict[str, pa.Table]
    #: (table, dataset) → (ninsert, nupdate, nnullupdate, ndelete)
    stats: dict[tuple[str, str], tuple[int, int, int, int]]
    #: the datasets one rep applies, and the .crs bytes/rows they hold
    rep_files: list[str] = field(default_factory=list)
    crs_bytes: int = 0
    crs_rows: int = 0
    #: set-up applies every dataset older than this one (None: nothing)
    seed_before: str | None = None


def _sizes(scale: float) -> dict[str, int]:
    return {t: max(10, int(round(n * scale))) for t, n in BASE_ROWS.items()}


def _base(table: str, n: int, rng) -> Rows:
    if table == "lineitem":
        keys = np.sort(rng.integers(1, 4 * n, n))
    else:
        keys = np.arange(1, n + 1, dtype=np.int64)
    return make_rows(table, keys, rng)


def _write_rows(path: str, rows: Rows, start: str, end: str,
                lap: Generated | None) -> None:
    size = _write(path, crs_text(rows.table, rows.raw, start, end))
    if lap is not None:
        lap.rep_files.append(path)
        lap.crs_bytes += size
        lap.crs_rows += len(rows.raw[0])


def level0_snapshot(root: str, seed: int, scale: float) -> Generated:
    rng = np.random.default_rng([seed, 0])
    lap = Generated(os.path.join(root, "repo"), {}, {})
    ds = os.path.join(lap.repo, "level_0", L0_DATASET)
    for t, n in _sizes(scale).items():
        rows = _base(t, n, rng)
        _write_rows(os.path.join(ds, f"{t}.crs"), rows, _stamp(1), _stamp(1), lap)
        lap.expected[t] = rows.expected
        lap.stats[(t, L0_DATASET)] = (n, 0, 0, 0)
    return lap


def _split(rng, n_rows: int, churn: float, mix: dict[str, float]):
    """Pick churned row positions and split them by action."""
    n = max(len(mix), int(round(n_rows * churn)))
    counts = {a: int(round(n * share)) for a, share in mix.items()}
    picked = rng.choice(n_rows, size=sum(c for a, c in counts.items() if a != "I"),
                        replace=False)
    out, at = {}, 0
    for a, c in counts.items():
        if a == "I":
            out[a] = c
        else:
            out[a] = np.sort(picked[at:at + c])
            at += c
    return out


def level5_changes(root: str, seed: int, scale: float) -> Generated:
    rng = np.random.default_rng([seed, 5])
    lap = Generated(os.path.join(root, "repo"), {}, {})
    sizes = _sizes(scale)
    state = {}
    l0 = os.path.join(lap.repo, "level_0", L0_DATASET)
    for t in DIFF_TABLES:
        state[t] = _base(t, sizes[t], rng)
        _write_rows(os.path.join(l0, f"{t}.crs"), state[t], _stamp(1), _stamp(1), None)
    next_id = 1
    for k in range(L5_DATASETS):
        day = L5_FIRST_DAY + k
        name = f"202401{day:02d}000000"
        ds = os.path.join(lap.repo, "level_5", name)
        in_rep = k == L5_DATASETS - 1
        lap.seed_before = name
        changes = []  # (tablename, key, declared action)
        for t in DIFF_TABLES:
            cur = state[t]
            split = _split(rng, len(cur.keys), L5_CHURN, L5_MIX)
            upd = _update(cur.take(split["U"]), rng)
            null = _restate(cur.take(split["0"]), rng)
            new_keys = cur.keys.max() + 1 + np.arange(split["I"], dtype=np.int64)
            ins = make_rows(t, new_keys, rng)
            incoming = upd.concat(null).concat(ins).sorted()
            _write_rows(os.path.join(ds, f"{t}.crs"), incoming,
                        _stamp(day - 1), _stamp(day), lap if in_rep else None)
            keep = np.ones(len(cur.keys), bool)
            keep[split["U"]] = False
            keep[split["D"]] = False
            state[t] = cur.take(np.flatnonzero(keep)).concat(upd).concat(ins).sorted()
            if in_rep:
                lap.stats[(t, name)] = (len(new_keys), len(split["U"]),
                                        len(split["0"]), len(split["D"]))
            for action, keys in (("U", upd.keys), ("U", null.keys), ("I", new_keys),
                                 ("D", cur.keys[split["D"]])):
                changes += [(t, int(key), action) for key in keys]
        order = rng.permutation(len(changes))
        labels = ["I", "U", "D"]
        ids, tnames, tkeys, actions = [], [], [], []
        for j in order:
            t, key, action = changes[j]
            if rng.random() < L5_MISLABEL:  # declared action disagrees with the data
                action = labels[(labels.index(action) + 1) % 3]
            ids.append(next_id)
            next_id += 1
            tnames.append(t.upper())
            tkeys.append(str(key))
            actions.append(action)
        n = len(ids)
        raw = [pc.cast(pa.array(ids), pa.string()), pa.array(tnames), pa.array(tkeys),
               pa.array(actions), pa.array([f"2024-01-{day - 1:02d} 12:00:00"] * n)]
        path = os.path.join(ds, f"{CHANGE_FILE}.crs")
        size = _write(path, crs_text(CHANGE_TABLE, raw, _stamp(day - 1), _stamp(day)))
        if in_rep:
            lap.rep_files.append(path)
            lap.crs_bytes += size
            lap.crs_rows += n
    lap.expected = {t: state[t].expected for t in DIFF_TABLES}
    return lap


def full_incremental(root: str, seed: int, scale: float) -> Generated:
    rng = np.random.default_rng([seed, 1])
    lap = Generated(os.path.join(root, "repo"), {}, {}, seed_before=L0_SECOND)
    sizes = _sizes(scale)
    first = os.path.join(lap.repo, "level_0", L0_DATASET)
    second = os.path.join(lap.repo, "level_0", L0_SECOND)
    for t in DIFF_TABLES:
        cur = _base(t, sizes[t], rng)
        _write_rows(os.path.join(first, f"{t}.crs"), cur, _stamp(1), _stamp(1), None)
        split = _split(rng, len(cur.keys), FULL_CHURN, FULL_MIX)
        upd = _update(cur.take(split["U"]), rng)
        new_keys = cur.keys.max() + 1 + np.arange(split["I"], dtype=np.int64)
        ins = make_rows(t, new_keys, rng)
        keep = np.ones(len(cur.keys), bool)
        keep[split["U"]] = False
        keep[split["D"]] = False
        snap = _restate(cur.take(np.flatnonzero(keep)), rng).concat(upd).concat(ins).sorted()
        _write_rows(os.path.join(second, f"{t}.crs"), snap, _stamp(31), _stamp(31), lap)
        lap.expected[t] = snap.expected
        lap.stats[(t, L0_SECOND)] = (len(new_keys), len(split["U"]), 0, len(split["D"]))
    return lap


WORKLOADS = {"level0_snapshot": level0_snapshot, "level5_changes": level5_changes,
             "full_incremental": full_incremental}
