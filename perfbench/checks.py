"""Correctness checks, computed from the generated inputs without the program.

  catch-up  serving view = last write per (schema, table, pk) by
            (timestamp, transaction id), deletes hiding the key; archive =
            exactly the selected records, each once; error sink = exactly
            the corrupt lines
  serve     the same three over seed + trickle (the seed is the base, at the
            load time with transaction id -1); every lookup made while the
            stream ran equals the key state at some serving version
            committed between its start and its end; lookups and scans after
            the drain equal the final state
  board     (traced runs) each query's written result equals DuckDB running
            the query's oracle SQL over the same parquet tables
"""
import bisect
import collections
import glob
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cdcgen import ROW_FIELDS

META_FIELDS = ["timestamp", "record-type", "operation", "partition-key-type",
               "schema-name", "table-name", "transaction-id"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SEED_SCHEMA = pa.schema([("trans_id", pa.int64()), ("customer_id", pa.string()),
                         ("event", pa.string()), ("sku", pa.string()),
                         ("amount", pa.int32()), ("device", pa.string()),
                         ("trans_datetime", pa.string())])


def write_seed(path, rows):
    pq.write_table(pa.Table.from_pylist(rows, SEED_SCHEMA), path)


def row_tuple(row):
    return tuple(row[f] for f in ROW_FIELDS)


# ---------------------------------------------------------------- reading

def parquet_tuples(d, fields):
    """(batch_id partition of the file or None, tuple of `fields`) for every
    row of every parquet file under `d`; a field `a.b` is `b` of struct `a`."""
    rows = []
    for f in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)):
        m = re.search(r"batch_id=(\d+)", f)
        batch = int(m.group(1)) if m else None
        t = pq.read_table(f, columns=sorted({x.split(".")[0] for x in fields}))
        cols = []
        for x in fields:
            parts = x.split(".")
            a = t.column(parts[0])
            for p in parts[1:]:
                a = pc.struct_field(a, p)
            cols.append(a.to_pylist())
        rows.extend((batch, r) for r in zip(*cols))
    return rows


def serving_out(work):
    return collections.Counter(r for _, r in parquet_tuples(
        os.path.join(work, "serving_out"), ["sch", "tbl"] + ROW_FIELDS))


def archive_out(work):
    """[(batch, archived record as (row tuple, metadata tuple))]."""
    n = len(ROW_FIELDS)
    return [(b, (r[:n], r[n:])) for b, r in parquet_tuples(
        os.path.join(work, "archive"),
        [f"data.{f}" for f in ROW_FIELDS] + [f"metadata.{f}" for f in META_FIELDS])]


def error_out(work):
    lines = []
    for f in glob.glob(os.path.join(work, "error", "**", "part-*"), recursive=True):
        if not f.endswith(".crc"):
            with open(f) as fh:
                lines.extend(fh.read().splitlines())
    return collections.Counter(lines)


# ---------------------------------------------------------- expectations

def archived_form(r):
    return (row_tuple(r.row), (r.ts, "data", r.op, "primary-key", r.sch, r.tbl, r.txid))


class State:
    """Last write per key: key -> ((timestamp, txid), op, row)."""

    def __init__(self, seed_rows=(), load_ts=None):
        self.s = {("testdb", "retail_trans", r["trans_id"]): ((load_ts, -1), "load", r)
                  for r in seed_rows}

    def apply(self, r):
        k = (r.sch, r.tbl, r.pk)
        cur = self.s.get(k)
        if cur is None or (r.ts, r.txid) > cur[0]:
            self.s[k] = ((r.ts, r.txid), r.op, r.row)

    def live(self, key):
        cur = self.s.get(key)
        return None if cur is None or cur[1] == "delete" else cur[2]

    def live_rows(self):
        return collections.Counter(k[:2] + row_tuple(v[2]) for k, v in self.s.items()
                                   if v[1] != "delete")


def diff(name, got, want, problems, limit=3):
    """Compares two Counters; records up to `limit` differences."""
    if got == want:
        return
    extra, missing = got - want, want - got
    problems.append(f"{name}: {sum(extra.values())} unexpected, "
                    f"{sum(missing.values())} missing; e.g. unexpected "
                    f"{list(extra)[:limit]} missing {list(missing)[:limit]}")


def check_cdc(recs, got_serving, got_archive, got_errors, base=None):
    """The three sink checks of one CDC leg; returns the problems."""
    problems = []
    state = base if base is not None else State()
    for r in recs:
        if r.kind == "data":
            state.apply(r)
    diff("serving view", got_serving, state.live_rows(), problems)
    want_archive = collections.Counter({archived_form(r): 1 for r in recs if r.kind == "data"})
    diff("archive", collections.Counter(a for _, a in got_archive), want_archive, problems)
    diff("error sink", got_errors,
         collections.Counter(r.line for r in recs if r.kind == "corrupt"), problems)
    return problems


def lookup_rows(look):
    """A lookup's answer as a Counter of (pk, row tuple): a key answered
    twice counts twice."""
    if len(look["keys"]) == 1:
        return collections.Counter((look["keys"][0], tuple(row)) for row in look["rows"])
    return collections.Counter((row[2], tuple(row[3:])) for row in look["rows"])


def expected_answer(state, keys):
    """Key -> row tuple of the live keys among `keys`."""
    out = {}
    for k in keys:
        row = state.live(("testdb", "retail_trans", k))
        if row is not None:
            out[k] = row_tuple(row)
    return out


def answer_of(snapshot, keys):
    """The lookup answer `snapshot` (from `expected_answer`) gives for `keys`."""
    return collections.Counter((k, snapshot[k]) for k in keys if k in snapshot)


def check_serve(gen, res, got_serving, got_archive, got_errors):
    """Sink checks plus lookups and scans; returns (problems, batch of each
    trickle record)."""
    sv = res["serve"]
    recs = [r for f in gen["trickle"] for r in f]
    base = State(gen["seed_rows"], gen["load_ts"])
    problems = check_cdc(recs, got_serving, got_archive, got_errors,
                         State(gen["seed_rows"], gen["load_ts"]))
    batch_of = {a: b for b, a in got_archive}
    # key states per committed version: -1 is the bootstrap seed
    by_batch = collections.defaultdict(list)
    for r in recs:
        by_batch[batch_of.get(archived_form(r), -2)].append(r)
    keys = sorted({k for look in sv["live"] for k in look["keys"]})
    versions = sorted(int(v) for v in sv["commits"])
    commit_at = [sv["commits"][str(v)] for v in versions]
    snaps = [expected_answer(base, keys)]
    for v in versions:
        for r in by_batch.get(v, []):
            base.apply(r)
        snaps.append(expected_answer(base, keys))
    for look in sv["live"]:
        if "error" in look:
            continue
        lo = bisect.bisect_right(commit_at, look["start"])
        hi = bisect.bisect_right(commit_at, look["end"] + 50)
        got = lookup_rows(look)
        if not any(answer_of(snaps[i], look["keys"]) == got for i in range(lo, hi + 1)):
            problems.append(f"live lookup of {look['keys'][:3]}... matches no version "
                            f"between {lo - 1} and {hi - 1}")
            break
    final = State(gen["seed_rows"], gen["load_ts"])
    for r in recs:
        final.apply(r)
    for look in sv["reads"]:
        if "error" not in look and lookup_rows(look) != answer_of(
                expected_answer(final, look["keys"]), look["keys"]):
            problems.append(f"lookup after drain of {look['keys'][:3]}... differs")
            break
    live = [row for k, (_, op, row) in final.s.items() if op != "delete"]
    want = (len(live), sum(r["amount"] or 0 for r in live), len(live))
    for sc in sv["scans"]:
        if "error" not in sc and (sc["count"], sc["amount"] or 0, sc["keys"]) != want:
            problems.append(f"scan read {(sc['count'], sc['amount'], sc['keys'])}, want {want}")
            break
    return problems, {(r.pk, r.txid): batch_of.get(archived_form(r)) for r in recs}


# ------------------------------------------------------------------ board

def norm(v):
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if hasattr(v, "tzinfo") and getattr(v, "tzinfo", None) is not None:
        v = v.astimezone(__import__("datetime").timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return None if v is None else str(v)


def table_of(names, rows):
    return [tuple(norm(r[i]) for i in sorted(range(len(names)), key=lambda i: names[i]))
            for r in rows], sorted(names)


def oracle(con, sql):
    cur = con.execute(sql)
    return table_of([d[0] for d in cur.description], cur.fetchall())


def spark_result(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    t = pa.concat_tables([pq.read_table(f) for f in files])
    return table_of(t.column_names, [tuple(r.values()) for r in t.to_pylist()])


def compare_query(name, got, want):
    if got is None:
        return f"{name}: no result written"
    (grows, gcols), (wrows, wcols) = got, want
    if gcols != wcols:
        return f"{name}: columns {gcols} vs oracle {wcols}"
    if len(grows) != len(wrows):
        return f"{name}: {len(grows)} rows vs oracle {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if g != w:
            return f"{name}: row {i} {g} vs oracle {w}"
    return None


def board_tables(cfg):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(cfg["board"]["tables"], f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def board_results(cfg, res):
    """{query: (spark result, oracle result)}; empty when the run had no
    board leg."""
    if "board" not in res:
        return {}
    con = board_tables(cfg)
    out = {}
    for name, sql in res["board"]["oracle"].items():
        out[name] = (spark_result(os.path.join(cfg["board"]["results"], name)),
                     oracle(con, sql))
    return out


def check_board(results):
    return [p for p in (compare_query(n, g, w) for n, (g, w) in sorted(results.items())) if p]


# ------------------------------------------------------------------ runner

def load_outputs(cfg):
    out = {}
    for leg in ("catchup", "serve"):
        w = cfg[leg]["work"]
        out[leg] = (serving_out(w), archive_out(w), error_out(w))
    return out


def run_checks(gen, res, outputs, board):
    problems = {}
    problems["catchup"] = check_cdc([r for f in gen["catchup"] for r in f], *outputs["catchup"])
    problems["serve"], batch_of = check_serve(gen, res, *outputs["serve"])
    problems["board"] = check_board(board)
    return problems, batch_of


def check_all(cfg, res, gen):
    outputs = load_outputs(cfg)
    board = board_results(cfg, res)
    problems, batch_of = run_checks(gen, res, outputs, board)
    sv, bd = res["serve"], res.get("board", {})
    ops = (sv["live"] + sv["reads"] + sv["scans"] + bd.get("iterative", [])
           + bd.get("onepass", []))
    attempted = (sum(len(f) for f in gen["catchup"]) + sum(len(f) for f in gen["trickle"])
                 + len(ops))
    failed = sum(1 for o in ops if "error" in o)
    for o in ops:
        if "error" in o:
            problems.setdefault("operations", []).append(o["error"])
    return {"correct": not any(problems.values()), "attempted": attempted,
            "failed": failed, "problems": problems, "batch_of": batch_of,
            "error_lines": outputs["catchup"][2]}


def selftest(cfg, res, gen):
    """Plants one wrong answer per check kind and requires each check to
    report it; exits non-zero otherwise."""
    outputs = load_outputs(cfg)
    board = board_results(cfg, res)
    base, _ = run_checks(gen, res, outputs, board)
    plants = []

    serving, archive, errors = outputs["catchup"]
    row = next(iter(serving))
    mutated = serving - collections.Counter([row]) + collections.Counter(
        [row[:6] + ((row[6] or 0) + 1,) + row[7:]])
    plants.append(("catchup", "a mutated serving row", res,
                   dict(outputs, catchup=(mutated, archive, errors)), board))
    plants.append(("catchup", "a dropped archive record", res,
                   dict(outputs, catchup=(serving, archive[1:], errors)), board))
    s_serving, s_archive, s_errors = outputs["serve"]
    plants.append(("serve", "a dropped archive record", res,
                   dict(outputs, serve=(s_serving, s_archive[1:], s_errors)), board))
    for phase, what in (("live", "a live lookup"), ("reads", "a lookup after the drain")):
        looks = res["serve"][phase]
        i = next(i for i, lk in enumerate(looks) if lk.get("rows"))
        doubled = dict(looks[i], rows=looks[i]["rows"] + looks[i]["rows"][:1])
        plants.append(("serve", f"a row duplicated in the answer of {what}",
                       dict(res, serve=dict(res["serve"], **{
                           phase: looks[:i] + [doubled] + looks[i + 1:]})),
                       outputs, board))
    if board:
        name = next(n for n, (g, _) in sorted(board.items()) if g and g[0])
        (grows, gcols), want = board[name]
        cell = grows[0]
        changed = [(cell[0] + "x" if cell[0] is not None else "x",) + cell[1:]] + grows[1:]
        plants.append(("board", f"a changed cell of {name}", res, outputs,
                       dict(board, **{name: ((changed, gcols), want)})))
    ok = True
    for leg, what, planted, outs, brd in plants:
        found, _ = run_checks(gen, planted, outs, brd)
        caught = len(found[leg]) > len(base[leg])
        print(f"selftest {leg}: {what}: {'caught' if caught else 'NOT CAUGHT'}"
              + (f" ({found[leg][-1][:120]})" if caught else ""), flush=True)
        ok &= caught
    if not ok:
        raise SystemExit("perfbench: selftest failed")
