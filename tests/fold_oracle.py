"""Pure-Python LWW fold: the differential oracle for ``lww.fold_changes``.

Runs on the driver over ``changes.collect()``. Rows are taken in
``(gtid_seq, seq_in_txn)`` order and folded per key — the same per-key
order as sorting by key first — with the fold's semantics spelled out
as plain dict operations: an insert replaces the image, a delete
tombstones it, an update patches it with ``dict.update`` (an explicit
NULL value still overwrites).
"""


def fold_oracle(changes, key_cols=("repo", "path")) -> dict:
    """changes (CHANGE_SCHEMA) → ``{key: (del, full, m, g, s, n_events)}``."""
    rows = sorted(changes.collect(),
                  key=lambda r: (r["gtid_seq"], r["seq_in_txn"]))
    states = {}
    for r in rows:
        after, before = r["after"] or {}, r["before"] or {}
        key = tuple(after.get(k) if after.get(k) is not None
                    else before.get(k) for k in key_cols)
        st = states.setdefault(key, [False, False, {}, -1, -1, 0])
        if r["op"] == "I":
            st[0], st[1], st[2] = False, True, dict(after)
        elif r["op"] == "D":
            st[0], st[1], st[2] = True, False, {}
        else:
            st[2].update(after)
        st[3], st[4] = r["gtid_seq"], r["seq_in_txn"]
        st[5] += 1
    return {k: tuple(v) for k, v in states.items()}


def norm_fold(folded, key_cols=("repo", "path")) -> dict:
    """A ``fold_changes`` result in ``fold_oracle``'s shape."""
    return {tuple(r[f"_k_{k}"] for k in key_cols):
            (r["del"], r["full"], dict(r["m"] or {}), r["g"], r["s"],
             r["n_events"])
            for r in folded.collect()}
