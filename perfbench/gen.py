"""Seeded input generators and reference models for the workloads.

Every generator is a pure function of its seed: the same seed yields a
byte-identical op stream, corpus and table data, and the stream's first k
ops never depend on how many ops follow them (the engine runs a
time-bounded prefix, and the checks replay the model over exactly that
prefix).

The engine sees only what `write_inputs` puts in the input directory:
parquet tables, the DDL/load statements and the op stream. The expected
answers (model states for `dml`, brute-force pairs for `dedup`) stay on
this side.
"""

import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 20261017
HELDOUT_SEED = 777001

# Ops per second no measured window can reach: the stream holds this
# rate times the window plus the warm-up ops. A run that used them all up
# would stop early and fail its own check, so the rates sit several times
# above those measured on a 4-core box.
MAX_RATE = {"dml": 15, "dedup": 4}
WARMUP_OPS = {"dml": 19, "dedup": 10}


def n_ops(workload, seconds):
    return WARMUP_OPS[workload] + int(MAX_RATE[workload] * seconds) + 10


def _schema_sql(fields):
    return ", ".join(f"{n} {t}" for n, t, _ in fields)


def _arrow_type(t):
    return {"BIGINT": pa.int64(), "INT": pa.int32(), "STRING": pa.string()}[t]


def _table(fields, cols):
    return pa.table({n: pa.array(cols[n], type=_arrow_type(t))
                     for n, t, _ in fields})


def row_bytes(fields, n_rows, cols=None):
    """Logical bytes of `n_rows` rows: 8 per BIGINT, 4 per INT, UTF-8
    length per string."""
    total = 0
    for name, t, _ in fields:
        if t == "BIGINT":
            total += 8 * n_rows
        elif t == "INT":
            total += 4 * n_rows
        else:
            total += sum(len(str(v).encode()) for v in cols[name] if v is not None)
    return total


def value_bytes(v):
    if v is None:
        return 0
    if isinstance(v, str):
        return len(v.encode())
    return 8


# ---------------------------------------------------------------------------
# dml: three tables shaped like the q111/q114 chains, and a model

ACCT_FIELDS = [("id", "BIGINT", None), ("grp", "INT", None),
               ("bal", "BIGINT", None), ("note", "STRING", None)]
PC_FIELDS = [("id", "BIGINT", None), ("name", "STRING", None),
             ("bal", "BIGINT", None), ("n", "INT", None)]
UQ_FIELDS = [("em", "STRING", None), ("n", "INT", None)]
DML_ROWS = {"acct": 3000, "pc": 3000, "uq": 1500}
PC_LO, PC_MID = 1000, 2000  # pc_lo < 1000 <= pc_mid < 2000 <= pc_hi


def dml_ddl():
    return [
        "CREATE TABLE acct (id BIGINT NOT NULL, grp INT, bal BIGINT, "
        "note STRING, PRIMARY KEY (id))",
        "CREATE TABLE pc (id BIGINT NOT NULL, name STRING, bal BIGINT, "
        "n INT, PRIMARY KEY (id)) PARTITION BY RANGE (id)",
        f"CREATE TABLE pc_lo PARTITION OF pc FOR VALUES FROM (MINVALUE) TO ({PC_LO})",
        f"CREATE TABLE pc_mid PARTITION OF pc FOR VALUES FROM ({PC_LO}) TO ({PC_MID})",
        "CREATE TABLE pc_hi PARTITION OF pc DEFAULT",
        "CREATE TABLE uq (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, n INT, "
        "PRIMARY KEY (id), UNIQUE KEY uq_em (em))",
    ]


def dml_loads():
    return ["INSERT INTO acct SELECT id, grp, bal, note FROM seed_acct",
            "INSERT INTO pc SELECT id, name, bal, n FROM seed_pc",
            "INSERT INTO uq (em, n) SELECT em, n FROM seed_uq"]


def dml_seed_tables(seed):
    rng = np.random.default_rng([seed, 2])
    na, npc, nu = DML_ROWS["acct"], DML_ROWS["pc"], DML_ROWS["uq"]
    return {**cdc_seed_tables(seed),
        "seed_acct": {"id": np.arange(1, na + 1),
                      "grp": rng.integers(0, 20, na).astype(np.int32),
                      "bal": rng.integers(0, 100000, na),
                      "note": [f"n{v}" for v in rng.integers(0, 1000, na)]},
        "seed_pc": {"id": np.arange(1, npc + 1),
                    "name": [f"p{v}" for v in rng.integers(0, 1000, npc)],
                    "bal": rng.integers(0, 100000, npc),
                    "n": np.zeros(npc, dtype=np.int32)},
        "seed_uq": {"em": [f"e{i}" for i in range(1, nu + 1)],
                    "n": rng.integers(1, 10, nu).astype(np.int32)},
    }


class DmlModel:
    """Row state of acct/pc/uq keyed by their keys, plus recency lists
    the generator draws zipf-skewed keys from."""

    def __init__(self, seed_tables, replica_rng):
        a, p, u = (seed_tables[k] for k in ("seed_acct", "seed_pc", "seed_uq"))
        self.replica = CdcStream(replica_rng, seed_tables)
        self.acct = {int(i): (int(g), int(b), n) for i, g, b, n in
                     zip(a["id"], a["grp"], a["bal"], a["note"])}
        self.pc = {int(i): (nm, int(b), int(n)) for i, nm, b, n in
                   zip(p["id"], p["name"], p["bal"], p["n"])}
        self.uq = {e: int(n) for e, n in zip(u["em"], u["n"])}
        self.seed_acct = a
        self.acct_keys = list(self.acct)
        self.pc_keys = list(self.pc)
        self.uq_keys = list(self.uq)
        self.next_acct = max(self.acct) + 1
        self.next_pc = PC_MID + 100000
        self.next_em = len(self.uq) + 1
        self.changed_bytes = 0

    def snapshot(self):
        return {"acct": sorted([k, *v] for k, v in self.acct.items()),
                "pc": sorted([k, *v] for k, v in self.pc.items()),
                "uq": sorted([k, v] for k, v in self.uq.items()),
                **self.replica.snapshot()}


def _zipf_pick(rng, keys):
    """A key skewed toward the most recently added ones."""
    r = int(min(len(keys), rng.paretovariate(1.1))) - 1
    r = min(r + rng.randrange(3) * (r == 0), len(keys) - 1)
    return keys[len(keys) - 1 - r]


def _acct_bytes(row):
    return 20 + value_bytes(row[2])


# One round of the dml stream: every family at its share of the mix, plus
# one maintenance statement. The first round is the warm-up pass and holds
# each family once. Partition moves take two slots: with one, the round's
# 90th percentile fell on the boundary between the three slowest families
# and jumped between them from run to run.
DML_DECK = (["read_acct_point", "read_acct_point", "read_acct_range",
             "read_pc_point", "read_pc_point", "read_pc_range", "read_uq"] +
            ["insert_values", "insert_values", "insert_select",
             "update_key", "update_key", "update_range", "delete_key",
             "delete_range", "replace", "insert_ignore", "odku",
             "on_conflict", "move_partition", "move_partition", "txn_group",
             "replica_window"])
DML_MAINTENANCE = ["OPTIMIZE acct", "OPTIMIZE pc",
                   "VACUUM acct RETAIN 0 SECONDS", "VACUUM pc RETAIN 0 SECONDS"]


def dml_shares():
    """Each op kind's share of a measured round."""
    n = len(DML_DECK) + 1
    shares = {f: DML_DECK.count(f) / n for f in DML_DECK}
    shares["maintenance"] = 1 / n
    return shares


def dml_ops(seed, n_ops, seed_tables):
    """Returns (ops, model). Each op is one statement or one BEGIN...COMMIT
    group; readbacks carry the rows the model expects."""
    rng = random.Random(seed * 7 + 2)
    m = DmlModel(seed_tables, random.Random(seed * 7 + 6))
    ops = []
    n_round = 0
    while len(ops) < n_ops:
        deck = sorted(set(DML_DECK)) if n_round == 0 else list(DML_DECK)
        rng.shuffle(deck)
        deck.append(("maint", DML_MAINTENANCE[n_round % 4]))
        n_round += 1
        for fam in deck:
            if len(ops) == n_ops:
                break
            ops.append(_dml_op(rng, m, fam, len(ops)))
    return ops, m


def _dml_op(rng, m, fam, op_id):
    op = {"id": op_id, "kind": fam if isinstance(fam, str) else "maintenance"}
    if isinstance(fam, tuple):
        op["sql"] = [fam[1]]
        return op
    if fam == "replica_window":
        op["txns"] = m.replica.window()
        m.changed_bytes += cdc_changed_bytes([op["txns"]])
    elif fam == "read_acct_point":
        k = _zipf_pick(rng, m.acct_keys)
        op["sql"] = [f"SELECT id, grp, bal, note FROM acct WHERE id = {k}"]
        op["expect"] = [[k, *m.acct[k]]]
    elif fam == "read_acct_range":
        # the range ends below a recent key, so it holds about 26 rows
        k = _zipf_pick(rng, m.acct_keys) - 25 - rng.randrange(20)
        op["sql"] = [f"SELECT id, grp, bal, note FROM acct WHERE id BETWEEN {k} AND {k + 25} ORDER BY id"]
        op["expect"] = sorted([i, *v] for i, v in m.acct.items() if k <= i <= k + 25)
    elif fam == "read_pc_point":
        k = _zipf_pick(rng, m.pc_keys)
        op["sql"] = [f"SELECT id, name, bal, n FROM pc WHERE id = {k}"]
        op["expect"] = [[k, *m.pc[k]]]
    elif fam == "read_pc_range":
        k = rng.randrange(1, DML_ROWS["pc"])
        op["sql"] = [f"SELECT id, name, bal, n FROM pc WHERE id BETWEEN {k} AND {k + 40} ORDER BY id"]
        op["expect"] = sorted([i, *v] for i, v in m.pc.items() if k <= i <= k + 40)
    elif fam == "read_uq":
        ems = sorted({_zipf_pick(rng, m.uq_keys) for _ in range(3)})
        lst = ", ".join(f"'{e}'" for e in ems)
        op["sql"] = [f"SELECT em, n FROM uq WHERE em IN ({lst}) ORDER BY em"]
        op["expect"] = [[e, m.uq[e]] for e in ems]
    elif fam == "insert_values":
        rows = []
        for _ in range(rng.randrange(1, 6)):
            k = m.next_acct
            m.next_acct += 1
            row = (rng.randrange(20), rng.randrange(100000), f"v{op_id}")
            m.acct[k] = row
            m.acct_keys.append(k)
            m.changed_bytes += _acct_bytes(row)
            rows.append(f"({k}, {row[0]}, {row[1]}, '{row[2]}')")
        op["sql"] = ["INSERT INTO acct VALUES " + ", ".join(rows)]
    elif fam == "insert_select":
        base, lo, n = m.next_acct, rng.randrange(1, DML_ROWS["acct"] - 30), 24
        a = m.seed_acct
        for i in range(lo, lo + n):
            k = i + base - lo
            row = (int(a["grp"][i - 1]), int(a["bal"][i - 1]), a["note"][i - 1])
            m.acct[k] = row
            m.acct_keys.append(k)
            m.changed_bytes += _acct_bytes(row)
        m.next_acct += n
        op["sql"] = [f"INSERT INTO acct SELECT id + {base - lo}, grp, bal, note "
                     f"FROM seed_acct WHERE id BETWEEN {lo} AND {lo + n - 1}"]
    elif fam == "update_key":
        k = _zipf_pick(rng, m.acct_keys)
        dlt = rng.randrange(1, 500)
        g, b, _ = m.acct[k]
        m.acct[k] = (g, b + dlt, f"u{op_id}")
        m.changed_bytes += _acct_bytes(m.acct[k])
        op["sql"] = [f"UPDATE acct SET bal = bal + {dlt}, note = 'u{op_id}' WHERE id = {k}"]
    elif fam == "update_range":
        k = rng.randrange(1, DML_ROWS["pc"])
        for i in range(k, k + 31):
            if i in m.pc:
                nm, b, n = m.pc[i]
                m.pc[i] = (nm, b, n + 1)
                m.changed_bytes += 20 + value_bytes(nm)
        op["sql"] = [f"UPDATE pc SET n = n + 1 WHERE id BETWEEN {k} AND {k + 30}"]
    elif fam == "delete_key":
        k = _zipf_pick(rng, m.acct_keys)
        m.changed_bytes += _acct_bytes(m.acct.pop(k))
        m.acct_keys.remove(k)
        op["sql"] = [f"DELETE FROM acct WHERE id = {k}"]
    elif fam == "delete_range":
        k = rng.randrange(1, DML_ROWS["acct"])
        for i in range(k, k + 4):
            if i in m.acct:
                m.changed_bytes += _acct_bytes(m.acct.pop(i))
                m.acct_keys.remove(i)
        op["sql"] = [f"DELETE FROM acct WHERE id BETWEEN {k} AND {k + 3}"]
    elif fam == "replace":
        k = _zipf_pick(rng, m.acct_keys) if rng.random() < 0.7 else m.next_acct
        if k == m.next_acct:
            m.next_acct += 1
            m.acct_keys.append(k)
        row = (rng.randrange(20), rng.randrange(100000), f"r{op_id}")
        m.acct[k] = row
        m.changed_bytes += _acct_bytes(row)
        op["sql"] = [f"REPLACE INTO acct VALUES ({k}, {row[0]}, {row[1]}, '{row[2]}')"]
    elif fam == "insert_ignore":
        vals = []
        for _ in range(3):
            if rng.random() < 0.5:
                em = _zipf_pick(rng, m.uq_keys)
            else:
                em = f"e{m.next_em}"
                m.next_em += 1
            v = rng.randrange(1, 10)
            if em not in m.uq:
                m.uq[em] = v
                m.uq_keys.append(em)
                m.changed_bytes += 4 + value_bytes(em)
            vals.append(f"('{em}', {v})")
        op["sql"] = ["INSERT IGNORE INTO uq (em, n) VALUES " + ", ".join(vals)]
    elif fam == "odku":
        em = _zipf_pick(rng, m.uq_keys) if rng.random() < 0.8 else f"e{m.next_em}"
        if em == f"e{m.next_em}":
            m.next_em += 1
        v = rng.randrange(1, 10)
        if em in m.uq:
            m.uq[em] += v
        else:
            m.uq[em] = v
            m.uq_keys.append(em)
        m.changed_bytes += 4 + value_bytes(em)
        op["sql"] = [f"INSERT INTO uq (em, n) VALUES ('{em}', {v}) "
                     "ON DUPLICATE KEY UPDATE n = n + VALUES(n)"]
    elif fam == "on_conflict":
        k = _zipf_pick(rng, m.acct_keys) if rng.random() < 0.8 else m.next_acct
        if k == m.next_acct:
            m.next_acct += 1
        g, b = rng.randrange(20), rng.randrange(1, 1000)
        if k in m.acct:
            og, ob, on = m.acct[k]
            m.acct[k] = (og, ob + b, on)
        else:
            m.acct[k] = (g, b, f"c{op_id}")
            m.acct_keys.append(k)
        m.changed_bytes += _acct_bytes(m.acct[k])
        op["sql"] = [f"INSERT INTO acct (id, grp, bal, note) VALUES ({k}, {g}, {b}, 'c{op_id}') "
                     "ON CONFLICT (id) DO UPDATE SET bal = acct.bal + excluded.bal"]
    elif fam == "move_partition":
        k = rng.randrange(1, PC_MID)
        while k not in m.pc:
            k = rng.randrange(1, PC_MID)
        nk = m.next_pc
        m.next_pc += 1
        m.pc[nk] = m.pc.pop(k)
        m.pc_keys.remove(k)
        m.pc_keys.append(nk)
        m.changed_bytes += 2 * (20 + value_bytes(m.pc[nk][0]))
        op["sql"] = [f"UPDATE pc SET id = {nk} WHERE id = {k}"]
    elif fam == "txn_group":
        a, b = _zipf_pick(rng, m.acct_keys), _zipf_pick(rng, m.acct_keys)
        amt = rng.randrange(1, 300)
        stmts = ["BEGIN",
                 f"UPDATE acct SET bal = bal - {amt} WHERE id = {a}",
                 f"UPDATE acct SET bal = bal + {amt} WHERE id = {b}"]
        for k, s in ((a, -amt), (b, amt)):
            g, bal, n = m.acct[k]
            m.acct[k] = (g, bal + s, n)
            m.changed_bytes += _acct_bytes(m.acct[k])
        k = m.next_acct
        m.next_acct += 1
        m.acct[k] = (1, amt, f"t{op_id}")
        m.acct_keys.append(k)
        m.changed_bytes += _acct_bytes(m.acct[k])
        stmts += [f"INSERT INTO acct VALUES ({k}, 1, {amt}, 't{op_id}')", "COMMIT"]
        op["sql"] = stmts
    return op


# ---------------------------------------------------------------------------
# replica windows of the dml stream: binlog transactions over three
# tables, and their model

CDC_TABLES = {
    "cdc_orders": [("id", "BIGINT", None), ("name", "STRING", None),
                   ("qty", "BIGINT", None)],
    "cdc_stock": [("id", "BIGINT", None), ("grp", "INT", None),
                  ("amt", "BIGINT", None), ("tag", "STRING", None)],
    "cdc_notes": [("id", "BIGINT", None), ("body", "STRING", None)],
}
CDC_ROWS = 1000
CDC_TXNS_PER_WINDOW = 24


def cdc_ddl():
    return [f"CREATE TABLE {t} ({_schema_sql(f).replace('id BIGINT', 'id BIGINT NOT NULL', 1)}, PRIMARY KEY (id))"
            for t, f in CDC_TABLES.items()]


def cdc_loads():
    return [f"INSERT INTO {t} SELECT * FROM seed_{t}" for t in CDC_TABLES]


def _cdc_row(rng, t, k, tick):
    if t == "cdc_orders":
        return [k, f"o{rng.randrange(10000)}", rng.randrange(1000)]
    if t == "cdc_stock":
        return [k, rng.randrange(50), rng.randrange(100000), f"s{tick}"]
    return [k, "note " + "x" * rng.randrange(5, 40) + f" {tick}"]


def cdc_seed_tables(seed):
    rng = random.Random(seed * 7 + 3)
    out = {}
    for t, fields in CDC_TABLES.items():
        rows = [_cdc_row(rng, t, k, 0) for k in range(1, CDC_ROWS + 1)]
        out[f"seed_{t}"] = {f[0]: [r[i] for r in rows] for i, f in enumerate(fields)}
    return out


class CdcStream:
    """Binlog transactions over the three cdc tables, and their model. A
    window is a list of transactions {"table", "changes": [["I", row] |
    ["U", before, after] | ["D", key_image]]}; keys repeat within and
    across windows."""

    def __init__(self, rng, seed_tables):
        self.rng = rng
        self.model = {t: {int(r[0]): list(r) for r in zip(*seed_tables[f"seed_{t}"].values())}
                      for t in CDC_TABLES}
        self.keys = {t: list(rows) for t, rows in self.model.items()}
        self.nxt = {t: CDC_ROWS + 1 for t in CDC_TABLES}
        self.tick = 0

    def window(self):
        rng, model, keys = self.rng, self.model, self.keys
        names = list(CDC_TABLES)
        win = []
        # one to four changes per transaction, 60 per window: the window is
        # the largest op of a round, so a fixed size keeps rows_per_s steady
        for i in range(CDC_TXNS_PER_WINDOW):
            t = names[rng.randrange(len(names))]
            changes = []
            for _ in range(1 + i % 4):
                self.tick += 1
                p = rng.random()
                if p < 0.3 or len(keys[t]) < 10:
                    k = self.nxt[t]
                    self.nxt[t] += 1
                    row = _cdc_row(rng, t, k, self.tick)
                    model[t][k] = row
                    keys[t].append(k)
                    changes.append(["I", row])
                elif p < 0.85:
                    k = _zipf_pick(rng, keys[t])
                    after = _cdc_row(rng, t, k, self.tick)
                    changes.append(["U", model[t][k], after])
                    model[t][k] = after
                else:
                    k = _zipf_pick(rng, keys[t])
                    del model[t][k]
                    keys[t].remove(k)
                    changes.append(["D", [k] + [None] * (len(CDC_TABLES[t]) - 1)])
            win.append({"table": t, "changes": changes})
        return win

    def snapshot(self):
        return {t: [rows[k] for k in sorted(rows)] for t, rows in self.model.items()}


def cdc_changed_bytes(windows):
    n = 0
    for win in windows:
        for txn in win:
            for ch in txn["changes"]:
                n += sum(value_bytes(v) for v in ch[-1])
    return n


# ---------------------------------------------------------------------------
# dedup: a near-duplicate corpus in batches

VOCAB = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "a", "hash", "slow", "group", "agg",
         "filter", "query", "big", "key", "window", "row", "table", "stream",
         "merge", "data", "vector", "join", "customer", "the", "index",
         "plan", "shuffle", "task", "stage", "job", "cache", "file", "page",
         "block", "tree", "node", "edge", "graph", "set", "map", "list",
         "queue", "lock", "log", "commit", "read", "write", "flush", "load",
         "store", "fetch", "push", "pull", "route", "parse", "lex", "emit",
         "yield"]
V = len(VOCAB)
DEDUP_BATCH = 160
DEDUP_TAU = 0.08
CORPUS_FIELDS = [("doc_id", "BIGINT", None), ("batch", "INT", None),
                 ("text", "STRING", None)]


def dedup_corpus(seed, n_batches):
    """Batches of base documents plus edited copies; the duplicate share
    of each batch is drawn from the seed."""
    rng = random.Random(seed * 7 + 4)
    docs = []
    for b in range(n_batches):
        dup_share = 0.2 + 0.15 * rng.random()
        n_dup = int(DEDUP_BATCH * dup_share)
        base = []
        for _ in range(DEDUP_BATCH - n_dup):
            w = [rng.randrange(V) for _ in range(rng.randrange(25, 70))]
            base.append(w)
        batch_docs = list(base)
        for _ in range(n_dup):
            w = list(rng.choice(base))
            for _ in range(rng.randrange(1, 8)):
                op, i = rng.random(), rng.randrange(len(w))
                if op < 0.4:
                    w[i] = rng.randrange(V)
                elif op < 0.7:
                    w.insert(i, rng.randrange(V))
                elif len(w) > 5:
                    del w[i]
            batch_docs.append(w)
        rng.shuffle(batch_docs)
        for w in batch_docs:
            docs.append((len(docs), b, " ".join(VOCAB[i] for i in w)))
    return {"doc_id": [d[0] for d in docs], "batch": [d[1] for d in docs],
            "text": [d[2] for d in docs]}


def poly_hash(s):
    """The engine's `poly_hash` of a string, over its code points."""
    h = 7
    for ch in s:
        h = (h * 31 + ord(ch)) % 1000000007
    return h


def shingle_codes(text):
    """The engine's `shingle_code_set(text)`: hashes of the distinct
    word bigrams, split on single spaces."""
    w = text.split(" ")
    return {poly_hash(w[i] + " " + w[i + 1]) for i in range(len(w) - 1)}


def dedup_expected(corpus, batch):
    """Brute-force pair set and min-id clusters of one batch."""
    ids = [i for i, b in zip(corpus["doc_id"], corpus["batch"]) if b == batch]
    sets = {i: shingle_codes(corpus["text"][i]) for i in ids}
    pairs = []
    for x in range(len(ids)):
        a = ids[x]
        sa = sets[a]
        for y in range(x + 1, len(ids)):
            b = ids[y]
            inter = len(sa & sets[b])
            if inter and inter / (len(sa) + len(sets[b]) - inter) >= DEDUP_TAU:
                pairs.append((min(a, b), max(a, b)))
    parent = {}

    def find(v):
        while parent.setdefault(v, v) != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = sorted((v, find(v)) for v in parent)
    return sorted(pairs), clusters


# ---------------------------------------------------------------------------
# the input directory the engine runner reads

def _write_parquet(path, fields, cols):
    pq.write_table(_table(fields, cols), path)


def build(workload, seed, seconds):
    """Everything a run needs: {"tables": {name: (fields, cols)},
    "ddl", "loads", "ops", plus check-side state}."""
    if workload == "dml":
        st = dml_seed_tables(seed)
        fields = {"seed_acct": ACCT_FIELDS, "seed_pc": PC_FIELDS, "seed_uq": UQ_FIELDS,
                  **{f"seed_{t}": f for t, f in CDC_TABLES.items()}}
        tables = {t: (fields[t], st[t]) for t in st}
        ops, _ = dml_ops(seed, n_ops(workload, seconds), st)
        load_bytes = sum(row_bytes(fields[t], len(st[t][fields[t][0][0]]), st[t]) for t in st)
        return {"tables": tables, "ddl": dml_ddl() + cdc_ddl(),
                "loads": dml_loads() + cdc_loads(),
                "ops": ops, "load_bytes": load_bytes, "seed_tables": st}
    if workload == "dedup":
        n = n_ops(workload, seconds)
        corpus = dedup_corpus(seed, n)
        tables = {"src_corpus": (CORPUS_FIELDS, corpus)}
        ddl = [f"CREATE TABLE corpus ({_schema_sql(CORPUS_FIELDS)})"]
        loads = ["INSERT INTO corpus SELECT * FROM src_corpus"]
        ops = [{"id": i, "kind": "dedup_job", "batch": i} for i in range(n)]
        return {"tables": tables, "ddl": ddl, "loads": loads, "ops": ops,
                "load_bytes": row_bytes(CORPUS_FIELDS, len(corpus["doc_id"]), corpus),
                "corpus": corpus}
    raise ValueError(f"unknown workload {workload}")


def engine_op(workload, op):
    """The op as the engine runner sees it: no expected answers."""
    if workload == "dml" and "sql" in op:
        return {"id": op["id"], "kind": op["kind"], "sql": op["sql"],
                "readback": "expect" in op}
    if workload == "dml":
        return {"id": op["id"], "kind": op["kind"], "txns": op["txns"]}
    return {"id": op["id"], "kind": op["kind"], "batch": op["batch"],
            "tau": DEDUP_TAU, "docs": DEDUP_BATCH}


def stream_bytes(workload, built):
    """The op stream exactly as the engine receives it."""
    return "".join(json.dumps(engine_op(workload, op), sort_keys=True) + "\n"
                   for op in built["ops"]).encode()


def write_inputs(workload, built, dest):
    for name, (fields, cols) in built["tables"].items():
        _write_parquet(dest / f"{name}.parquet", fields, cols)
    with open(dest / "ops.jsonl", "wb") as f:
        f.write(stream_bytes(workload, built))
    spec = {"workload": workload, "tables": sorted(built["tables"]),
            "ddl": built["ddl"], "loads": built["loads"],
            "warmup_ops": WARMUP_OPS[workload]}
    with open(dest / "spec.json", "w") as f:
        json.dump(spec, f, indent=1)
