"""Seeded generators of DMS change envelopes for the CDC legs.

Lines follow the DMS-to-Kinesis wire format the program parses
(`graft.cdc.Envelope`): one JSON object per line, the row image under
`data`, provenance under `metadata`, timestamps fixed-width ISO-8601 with
microseconds. Every generated record is also returned as a `Rec`, so the
checks can compute the expected outputs without the program.
"""
import json
import random
from collections import namedtuple

EVENTS = ["visit", "view", "cart", "list", "like", "purchase"]
DEVICES = ["pc", "mobile", "tablet"]
ROW_FIELDS = ["trans_id", "customer_id", "event", "sku", "amount", "device",
              "trans_datetime"]

# kind: "data" (a change of a selected table), "other" (a change of a table
# the selection rule excludes), "control", "corrupt"
Rec = namedtuple("Rec", "kind line sch tbl pk ts txid op row")


def iso(us):
    """Microseconds after 2022-03-14T00:00:00Z as the envelope timestamp."""
    s, frac = divmod(us, 1_000_000)
    d, s = divmod(s, 86400)
    return (f"2022-03-{14 + d:02d}T{s // 3600:02d}:{s % 3600 // 60:02d}:"
            f"{s % 60:02d}.{frac:06d}Z")


def new_row(rnd, pk):
    ev = rnd.choice(EVENTS) if rnd.random() > 0.05 else None
    amount = (rnd.randint(0, 100) if ev in ("cart", "purchase") else 1)
    if rnd.random() < 0.05:
        amount = None
    sec = rnd.randrange(86400)
    return {"trans_id": pk,
            "customer_id": "%012d" % rnd.randrange(10 ** 12),
            "event": ev,
            "sku": "".join(rnd.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(2))
                   + "%04d" % rnd.randrange(10000)
                   + "".join(rnd.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(4)),
            "amount": amount,
            "device": rnd.choice(DEVICES),
            "trans_datetime": f"2022-03-14T{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}Z"}


def changed(rnd, row):
    r = dict(row)
    r["event"] = rnd.choice(EVENTS)
    r["amount"] = rnd.randint(0, 100) if r["event"] in ("cart", "purchase") else 1
    r["device"] = rnd.choice(DEVICES)
    return r


def envelope(row, ts, op, txid, sch="testdb", tbl="retail_trans"):
    return json.dumps({"data": row, "metadata": {
        "timestamp": iso(ts), "record-type": "data", "operation": op,
        "partition-key-type": "primary-key", "schema-name": sch,
        "table-name": tbl, "transaction-id": txid}})


def data_rec(row, ts, op, txid, sch="testdb", tbl="retail_trans"):
    kind = "data" if (sch, tbl) == ("testdb", "retail_trans") else "other"
    return Rec(kind, envelope(row, ts, op, txid, sch, tbl), sch, tbl,
               row["trans_id"], iso(ts), txid, op, row)


def corrupt_line(rnd, row, ts, txid):
    """A line the program must route to its error sink."""
    k = rnd.randrange(5)
    if k == 0:                                   # truncated JSON
        line = envelope(row, ts, "update", txid)
        return line[: len(line) // 2]
    if k == 1:                                   # no transaction id
        return envelope(row, ts, "update", None)
    if k == 2:                                   # unparseable timestamp
        return envelope(row, ts, "update", txid).replace(iso(ts), "not-a-time")
    if k == 3:                                   # no operation
        return envelope(row, ts, None, txid)
    return "{" + row["sku"] + "}"                # not JSON at all


class Log:
    """A change log in arrival order. Event time advances 100-900 us per
    record, so a log of any length used here spans minutes: nothing is
    later than the pipeline's one-hour lateness bound."""

    def __init__(self, seed, start_us, first_pk=0):
        self.rnd = random.Random(seed)
        self.clock = start_us
        self.tx = 8_590_000_000
        self.next_pk = first_pk
        self.live = {}        # pk -> current row (selected table)
        self.dead = {}        # pk -> row image at delete
        self.live_keys = []   # pks, for O(1) random choice (stale entries skipped)

    def tick(self):
        self.clock += self.rnd.randint(100, 900)
        self.tx += self.rnd.randint(2, 7919)
        return self.clock, self.tx

    def insert(self, pk=None):
        if pk is None:
            pk, self.next_pk = self.next_pk, self.next_pk + 1
        row = new_row(self.rnd, pk)
        self.live[pk] = row
        self.live_keys.append(pk)
        ts, tx = self.tick()
        return data_rec(row, ts, "insert", tx)

    def some_live(self):
        while True:
            pk = self.live_keys[self.rnd.randrange(len(self.live_keys))]
            if pk in self.live:
                return pk

    def update(self, pk=None):
        pk = self.some_live() if pk is None else pk
        row = changed(self.rnd, self.live[pk])
        self.live[pk] = row
        ts, tx = self.tick()
        return data_rec(row, ts, "update", tx)

    def tie_pair(self):
        """Two updates of one key with the same timestamp: the larger
        transaction id must win."""
        pk = self.some_live()
        ts, tx = self.tick()
        first = changed(self.rnd, self.live[pk])
        second = changed(self.rnd, first)
        self.live[pk] = second
        return [data_rec(first, ts, "update", tx),
                data_rec(second, ts, "update", tx + 1)]

    def delete(self, pk=None):
        pk = self.some_live() if pk is None else pk
        row = self.live.pop(pk)
        self.dead[pk] = row
        ts, tx = self.tick()
        return data_rec(row, ts, "delete", tx)

    def reinsert(self):
        pk = self.rnd.choice(list(self.dead)) if self.dead else None
        if pk is None:
            return self.insert()
        del self.dead[pk]
        return self.insert(pk)

    def foreign(self, sch, tbl):
        ts, tx = self.tick()
        row = new_row(self.rnd, self.rnd.randrange(max(self.next_pk, 1)))
        return data_rec(row, ts, "update", tx, sch, tbl)

    def control(self):
        ts, tx = self.tick()
        line = json.dumps({"metadata": {
            "timestamp": iso(ts), "record-type": "control",
            "operation": "create-table", "partition-key-type": "task-id",
            "schema-name": "testdb", "table-name": "retail_trans",
            "transaction-id": tx}})
        return Rec("control", line, None, None, None, iso(ts), tx, None, None)

    def corrupt(self):
        ts, tx = self.tick()
        row = new_row(self.rnd, self.rnd.randrange(max(self.next_pk, 1)))
        return Rec("corrupt", corrupt_line(self.rnd, row, ts, tx), None, None,
                   None, None, None, None, None)


# Catch-up log make-up: share of generated events by kind. Where the
# program's own change fixture (FIXTURES.md section 3,
# fixtures/cdc_retail_trans.jsonl: 600 selected records = 250 updates, 20
# same-timestamp update pairs, 50 deletes, 10 re-inserts, the rest first
# inserts; 5 other-table, 5 other-schema and 3 control records) has a kind,
# its proportions are used. The rest are assumptions: inserts are raised to
# 59 % because a catch-up from an empty serving state sees mostly new keys;
# redeliveries (a byte-identical copy of one of the last 2,000 selected
# lines) and corrupt lines, which the fixture does not have, are 5 % and 1 %.
CATCHUP_MIX = [("insert", 0.59), ("update", 0.25), ("tie", 0.02), ("delete", 0.05),
               ("reinsert", 0.01), ("redeliver", 0.05), ("corrupt", 0.01),
               ("other_table", 0.008), ("other_schema", 0.008), ("control", 0.004)]

# Serve trickle make-up: the operation shares of the fixture's 600 selected
# records (290 updates, 50 deletes, 260 inserts).
TRICKLE_MIX = [("update", 290 / 600), ("delete", 50 / 600), ("insert", 260 / 600)]


def catchup_files(seed, n_files, lines_per_file, window=64):
    """`n_files` lists of about `lines_per_file` records. Within a file the
    arrival order is shuffled in windows of `window` lines, so timestamps
    arrive out of order (by tens of milliseconds, inside the lateness
    bound)."""
    log = Log(seed, start_us=14 * 3600 * 10 ** 6)
    rnd = log.rnd
    kinds, weights = zip(*CATCHUP_MIX)
    recent = []
    files = []
    for _ in range(n_files):
        out = []
        while len(out) < lines_per_file:
            k = rnd.choices(kinds, weights)[0]
            if k != "insert" and not log.live_keys:
                k = "insert"
            if k == "insert":
                new = [log.insert()]
            elif k == "update":
                new = [log.update()]
            elif k == "delete":
                new = [log.delete()] if len(log.live) > 10 else [log.insert()]
            elif k == "reinsert":
                new = [log.reinsert()]
            elif k == "tie":
                new = log.tie_pair()
            elif k == "redeliver":
                new = [rnd.choice(recent)] if recent else [log.insert()]
            elif k == "other_table":
                new = [log.foreign("testdb", "other_table")]
            elif k == "other_schema":
                new = [log.foreign("otherdb", "retail_trans")]
            elif k == "control":
                new = [log.control()]
            else:
                new = [log.corrupt()]
            for r in new:
                if r.kind == "data":
                    recent.append(r)
            del recent[:-2000]
            out.extend(new)
        for i in range(0, len(out), window):
            chunk = out[i:i + window]
            rnd.shuffle(chunk)
            out[i:i + window] = chunk
        files.append(out)
    return files


def serve_inputs(seed, n_keys, n_files, recs_per_file):
    """A seed snapshot of `n_keys` rows (loaded at 00:00) and `n_files`
    trickle files of `recs_per_file` changes each, after the load time, in
    the shares of TRICKLE_MIX: updates and deletes of random live keys,
    inserts of new keys. Returns (seed rows, load timestamp, files)."""
    log = Log(seed, start_us=3600 * 10 ** 6, first_pk=n_keys)
    rnd = log.rnd
    seed_rows = []
    for pk in range(n_keys):
        row = new_row(rnd, pk)
        seed_rows.append(row)
        log.live[pk] = row
        log.live_keys.append(pk)
    ops, weights = zip(*TRICKLE_MIX)
    make = {"update": log.update, "delete": log.delete, "insert": log.insert}
    files = [[make[op]() for op in rnd.choices(ops, weights, k=recs_per_file)]
             for _ in range(n_files)]
    return seed_rows, iso(0), files
