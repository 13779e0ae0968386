"""`lakehouse_rw`: the seeded op sequence and the in-memory model that
predicts every read and the final head snapshot.

The table is (k BIGINT, cust BIGINT, price BIGINT, status STRING), built
from the generated `orders` (price in cents). Each op carries the SQL the
harness runs; a read's expected result is rendered the way the harness
renders result rows (values joined by ",", rows by ";").
"""
import random

STATUSES = ("F", "O", "P")
COMMIT_KINDS = ("insert", "merge", "delete")
READ_KINDS = ("point", "range", "version")
ROW_BYTES = 8 + 8 + 8 + 1  # three BIGINTs and a one-letter status


class Model:
    def __init__(self, rows):
        self.rows = dict(rows)  # k -> (cust, price, status)
        self.next_key = max(self.rows) + 1 if self.rows else 0
        # (count, sum(price)) after each commit; index 0 is the base table
        self.history = [self._totals()]

    def _totals(self):
        return len(self.rows), sum(p for _, p, _ in self.rows.values())

    def commit(self, kind, rows=None, lo=None, hi=None):
        if kind in ("insert", "merge"):
            for k, cust, price, status in rows:
                self.rows[k] = (cust, price, status)
                self.next_key = max(self.next_key, k + 1)
        elif kind == "delete":
            for k in range(lo, hi + 1):
                self.rows.pop(k, None)
        self.history.append(self._totals())

    def point(self, k):
        r = self.rows.get(k)
        return "" if r is None else f"{r[0]},{r[1]},{r[2]}"

    def range(self, lo, hi):
        hits = [self.rows[k][1] for k in range(lo, hi + 1) if k in self.rows]
        return f"{len(hits)},{sum(hits)}"

    def version(self, j):
        n, s = self.history[j + 1]
        return f"{n},{s}"

    def head(self):
        n = len(self.rows)
        sk = sum(self.rows)
        sc = sum(c for c, _, _ in self.rows.values())
        sp = sum(p for _, p, _ in self.rows.values())
        skp = sum(k * p for k, (_, p, _) in self.rows.items())
        sks = sum(k * ord(s) for k, (_, _, s) in self.rows.items())
        return f"{n},{sk},{sc},{sp},{skp},{sks}"


def _values(rows):
    return ", ".join(f"({k}, {c}, {p}, '{s}')" for k, c, p, s in rows)


def ops(rows, seed, commits, reads_per_commit, batch_rows, warm_commits=0):
    """The op sequence and its expected read results.

    Each block is one commit and `reads_per_commit` reads after it. The
    commits cycle through INSERT, MERGE and DELETE, and the reads through
    point, range and VERSION AS OF, in a seeded order within the block, so
    every seed runs the same mix; the seed picks keys, values and order.
    The first `warm_commits` blocks are warm-up ops. Returns (ops, model
    after the last op).
    """
    rng = random.Random(seed)
    model = Model(rows)
    out = []
    t = "bench.db.t"
    n_commits = 0
    for block in range(warm_commits + commits):
        warm = block < warm_commits
        kind = COMMIT_KINDS[block % len(COMMIT_KINDS)]
        live = list(model.rows) if kind != "insert" else None
        if kind == "insert":
            new = [(model.next_key + i, rng.randrange(10**5), rng.randrange(10**5, 5 * 10**7),
                    rng.choice(STATUSES)) for i in range(batch_rows)]
            sql = f"INSERT INTO {t} VALUES {_values(new)}"
            model.commit(kind, rows=new)
            user_rows = len(new)
        elif kind == "merge":
            old = rng.sample(live, batch_rows // 2)
            new = [(k, model.rows[k][0], rng.randrange(10**5, 5 * 10**7), model.rows[k][2])
                   for k in old]
            new += [(model.next_key + i, rng.randrange(10**5), rng.randrange(10**5, 5 * 10**7),
                     rng.choice(STATUSES)) for i in range(batch_rows - len(old))]
            sql = (f"MERGE INTO {t} t USING (SELECT * FROM VALUES {_values(new)} "
                   f"AS s(k, cust, price, status)) s ON t.k = s.k "
                   f"WHEN MATCHED THEN UPDATE SET price = s.price "
                   f"WHEN NOT MATCHED THEN INSERT (k, cust, price, status) "
                   f"VALUES (s.k, s.cust, s.price, s.status)")
            model.commit(kind, rows=new)
            user_rows = len(new)
        else:
            lo = rng.choice(live)
            hi = lo + rng.randrange(batch_rows)
            user_rows = sum(1 for k in range(lo, hi + 1) if k in model.rows)
            sql = f"DELETE FROM {t} WHERE k BETWEEN {lo} AND {hi}"
            model.commit(kind, lo=lo, hi=hi)
        out.append({"kind": kind, "sql": sql, "warm": warm,
                    "user_bytes": user_rows * ROW_BYTES})
        j = n_commits
        n_commits += 1
        reads = [READ_KINDS[i % len(READ_KINDS)] for i in range(reads_per_commit)]
        rng.shuffle(reads)
        for read in reads:
            keys = list(model.rows)
            if read == "point":
                # mostly live keys; one in ten a key that was deleted or never existed
                k = rng.choice(keys) if rng.random() < 0.9 else rng.randrange(model.next_key + 10)
                op = {"kind": "point", "expect": model.point(k),
                      "sql": f"SELECT cust, price, status FROM {t} WHERE k = {k}"}
            elif read == "range":
                lo = rng.choice(keys)
                hi = lo + rng.randrange(1, 2000)
                op = {"kind": "range", "expect": model.range(lo, hi),
                      "sql": f"SELECT count(*), coalesce(sum(price), 0) FROM {t} "
                             f"WHERE k BETWEEN {lo} AND {hi}"}
            else:
                back = rng.randrange(-1, j + 1)
                op = {"kind": "version", "expect": model.version(back),
                      "sql": f"SELECT count(*), coalesce(sum(price), 0) FROM {t} "
                             f"VERSION AS OF @V{back}@"}
            op["warm"] = warm
            out.append(op)
    return out, model
