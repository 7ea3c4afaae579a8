"""Output checks. Each takes plain Python data collected from the program
and returns a list of problems (empty = correct), so a test can hand it a
deliberately corrupted output.
"""

from __future__ import annotations

import hashlib

JACCARD_THRESHOLD = 0.25  # the program's near-duplicate threshold
RECALL_MIN_J = 0.4        # planted pairs at least this similar must be found
RECALL_TARGET = 0.98


def _limit(problems: list, n: int = 5) -> list:
    return problems[:n] + ([f"... {len(problems) - n} more"] if len(problems) > n else [])


def conv_stats(rows, expected: dict) -> list:
    """rows: (conv_id, n_turns, total_chars, total_spans); expected: the same
    triple per conv_id, summed from the gold digest."""
    got = {r[0]: tuple(r[1:]) for r in rows}
    problems = [f"conv {c}: got {got.get(c)}, want {w}"
                for c, w in expected.items() if got.get(c) != w]
    problems += [f"unexpected conv {c}" for c in got.keys() - expected.keys()]
    return _limit(problems)


def turn_digests(rows, gold: dict) -> list:
    """rows: (conv_id, turn_idx, md5 of extracted text, n_chars, n_spans);
    gold: the same per (conv_id, turn_idx). Zero turns may differ."""
    got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    bad = [k for k, w in gold.items() if got.get(k) != w]
    extra = got.keys() - gold.keys()
    if bad or extra or len(rows) != len(got):
        return [f"{len(bad)} turns differ from gold (first {sorted(bad)[:3]}), "
                f"{len(extra)} unexpected, {len(rows) - len(got)} duplicated"]
    return []


def commit(processed, resumed, out_rows: int, manifest_rows: int,
           n_rows: int, n_buckets: int) -> list:
    problems = []
    if sorted(processed) != list(range(n_buckets)):
        problems.append(f"processed buckets {sorted(processed)}, want all {n_buckets}")
    if resumed:
        problems.append(f"resume reprocessed buckets {resumed}")
    if out_rows != n_rows:
        problems.append(f"output rows {out_rows} != input rows {n_rows}")
    if manifest_rows != n_rows:
        problems.append(f"manifest rows {manifest_rows} != input rows {n_rows}")
    return problems


def _recall(found: set, planted) -> tuple:
    want = [(min(a, b), max(a, b)) for a, b, j in planted if j >= RECALL_MIN_J]
    hit = sum(1 for p in want if p in found)
    return hit, len(want)


def verified_pairs(pairs, shingles: dict, planted) -> list:
    """pairs: (doc_a, doc_b, shared, na, nb, jaccard) from the program;
    shingles: doc_id -> shingle set; planted: (root, clone, true J)."""
    problems, seen = [], set()
    for a, b, shared, na, nb, jac in pairs:
        sa, sb = shingles[a], shingles[b]
        want = (len(sa & sb), len(sa), len(sb))
        j = want[0] / (want[1] + want[2] - want[0])
        if a >= b or (a, b) in seen:
            problems.append(f"pair ({a},{b}) unordered or repeated")
        elif (shared, na, nb) != want or abs(jac - j) > 1e-4 or jac < JACCARD_THRESHOLD:
            problems.append(f"pair ({a},{b}): got {(shared, na, nb, jac)}, "
                            f"recomputed {want + (round(j, 4),)}")
        seen.add((a, b))
    hit, n = _recall(seen, planted)
    if n == 0 or hit < RECALL_TARGET * n:
        problems.append(f"recall {hit}/{n} on planted pairs with J >= {RECALL_MIN_J}")
    return _limit(problems)


def clusters(rows, shingles: dict, planted) -> list:
    """rows: (doc_id, cluster_id, is_canonical) from the program."""
    problems = []
    cid = {}
    for doc, cl, canon in rows:
        if doc in cid:
            problems.append(f"doc {doc} listed twice")
        cid[doc] = cl
        if canon != (doc == cl) or cl > doc:
            problems.append(f"doc {doc}: cluster {cl}, canonical {canon}")
    if cid.keys() != shingles.keys():
        problems.append(f"{len(shingles.keys() - cid.keys())} docs missing, "
                        f"{len(cid.keys() - shingles.keys())} unknown")
    members: dict = {}
    for doc, cl in cid.items():
        members.setdefault(cl, []).append(doc)
    for cl, docs in members.items():
        if cid.get(cl) != cl:
            problems.append(f"cluster {cl} does not contain its own id")
        elif len(docs) > 1 and not _connected(docs, shingles):
            problems.append(f"cluster {cl} {sorted(docs)[:6]} is not connected "
                            f"by pairs with J >= {JACCARD_THRESHOLD}")
    same = {(min(a, b), max(a, b)) for a, b, _ in planted if cid.get(a) == cid.get(b)}
    hit, n = _recall(same, planted)
    if n == 0 or hit < RECALL_TARGET * n:
        problems.append(f"recall {hit}/{n} on planted pairs with J >= {RECALL_MIN_J}")
    return _limit(problems)


def _connected(docs, shingles: dict) -> bool:
    parent = {d: d for d in docs}

    def root(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for i, a in enumerate(docs):
        for b in docs[i + 1 :]:
            sa, sb = shingles[a], shingles[b]
            # the program keeps round(J, 4) >= threshold
            if len(sa & sb) / len(sa | sb) >= JACCARD_THRESHOLD - 5e-5:
                parent[root(a)] = root(b)
    return len({root(d) for d in docs}) == 1


def rows_digest(rows) -> str:
    """Order-insensitive digest of result rows."""
    h = hashlib.md5()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode("utf-8"))
    return h.hexdigest()


def same_rows(spark_rows, oracle_rows) -> list:
    a, b = rows_digest(spark_rows), rows_digest(oracle_rows)
    if a != b:
        return [f"{len(spark_rows)} rows (digest {a[:8]}) vs oracle "
                f"{len(oracle_rows)} rows (digest {b[:8]})"]
    return []
