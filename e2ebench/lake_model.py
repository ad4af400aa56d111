"""In-benchmark model of a snapshot table's live rows, keyed by `event_id`.

It replays the same commits the program makes (append, merge upsert,
delete, compaction) and answers what each read must return: the row
count and exact integer sums over the live rows, and the change set
between the last two versions.

A row is the tuple (event_id, ts, user_id, event_type, value, props).
"""
KEY, USER, VALUE = 0, 2, 4


def cents(value):
    return int(round(value * 100))


class LakeModel:
    def __init__(self, rows):
        self.live = {}
        self.totals = [0, 0, 0, 0]          # n, sum_id, sum_user, sum_cents
        for r in rows:
            self._put(tuple(r))
        self.version = 1
        self.last_change = ([], [])   # (added rows, removed rows) of the last commit

    def _put(self, r):
        self._pop(r[KEY])
        self.live[r[KEY]] = r
        self._count(r, 1)

    def _pop(self, k):
        r = self.live.pop(k, None)
        if r is not None:
            self._count(r, -1)
        return r

    def _count(self, r, sign):
        for i, x in enumerate((1, r[KEY], r[USER], cents(r[VALUE]))):
            self.totals[i] += sign * x

    def _commit(self, added, removed):
        self.version += 1
        # the diff read compares whole rows (EXCEPT ALL): a row removed
        # and re-added unchanged is no change
        common = set(added) & set(removed)
        self.last_change = ([r for r in added if r not in common],
                            [r for r in removed if r not in common])

    def append(self, rows):
        rows = [tuple(r) for r in rows]
        for r in rows:
            assert r[KEY] not in self.live, f"append of existing key {r[KEY]}"
            self._put(r)
        self._commit(rows, [])

    def merge(self, rows):
        rows = [tuple(r) for r in rows]
        removed = [self.live[r[KEY]] for r in rows if r[KEY] in self.live]
        for r in rows:
            self._put(r)
        self._commit(rows, removed)

    def delete(self, keys):
        removed = [self._pop(k) for k in sorted(set(keys)) if k in self.live]
        self._commit([], removed)

    def compact(self):
        self._commit([], [])

    def summary(self, lo=None, hi=None):
        """Count and sums over live rows, or over keys in [lo, hi)."""
        if lo is None:
            return dict(zip(("n", "sum_id", "sum_user", "sum_cents"), self.totals))
        n = sum_id = sum_user = sum_cents = 0
        for k in range(lo, hi):
            r = self.live.get(k)
            if r is None:
                continue
            n += 1
            sum_id += k
            sum_user += r[USER]
            sum_cents += cents(r[VALUE])
        return {"n": n, "sum_id": sum_id, "sum_user": sum_user, "sum_cents": sum_cents}

    def diff(self):
        """Per change kind (`add`/`del`): count and sums, as the diff read
        reports them; kinds with no rows are absent."""
        out = {}
        for kind, rows in zip(("add", "del"), self.last_change):
            if rows:
                out[kind] = {"n": len(rows), "sum_id": sum(r[KEY] for r in rows),
                             "sum_cents": sum(cents(r[VALUE]) for r in rows)}
        return out
