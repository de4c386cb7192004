"""Driver-side Python models of documented operator semantics.

Tests compare the Spark operators against these small, obviously
correct implementations instead of against a second engine path.
"""

from __future__ import annotations

import math


def union_find(edges) -> dict:
    """node -> minimum node id of its connected component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _round_half_up6(x: float) -> float:
    """6dp ROUND_HALF_UP (away from zero at midpoints), Spark's F.round."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def semdedup_model(rows, centroids, threshold: float) -> dict:
    """SemDeDup reference: ``{id: (cluster, group_id, is_kept)}``.

    - assignment: sequential-fold squared L2 ``d2c`` to each centroid,
      the first (lowest) centroid wins ties; ``cluster`` is 1-based;
    - pairs: same cluster, ``a < b``, and the 6dp HALF_UP sequential-fold
      cosine is ``>= threshold``; a zero-norm vector never pairs;
    - groups: union-find closure of the pairs, ``group_id`` = min id;
    - keeper: per group, the minimum ``(raw d2c, id)``.
    """
    vecs = {i: [float(x) for x in v] for i, v in rows}
    assign = {}
    for i, v in vecs.items():
        best = None
        for cid, c in enumerate(centroids, start=1):
            d = 0.0
            for x, y in zip(v, c):
                d = d + (x - y) * (x - y)
            if best is None or d < best[1]:
                best = (cid, d)
        assign[i] = best

    def norm(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    norms = {i: norm(v) for i, v in vecs.items()}
    members: dict = {}
    for i in sorted(vecs):
        members.setdefault(assign[i][0], []).append(i)
    edges = []
    for ids in members.values():
        for p, a in enumerate(ids):
            for b in ids[p + 1 :]:
                if norms[a] == 0.0 or norms[b] == 0.0:
                    continue
                dot = 0.0
                for x, y in zip(vecs[a], vecs[b]):
                    dot = dot + x * y
                if _round_half_up6(dot / (norms[a] * norms[b])) >= threshold:
                    edges.append((a, b))
    comp = union_find(edges)
    group = {i: comp.get(i, i) for i in vecs}
    keeper = {}
    for i in vecs:
        k = (assign[i][1], i)
        g = group[i]
        if g not in keeper or k < keeper[g]:
            keeper[g] = k
    return {
        i: (assign[i][0], group[i], keeper[group[i]][1] == i)
        for i in vecs
    }


def _nan_to_0(x: float) -> float:
    return 0.0 if math.isnan(x) else x


def pq_adc_topk_model(corpus, queries, books, k: int, normalize: bool):
    """Exact global PQ asymmetric-distance top-k, ``{q_id: [(n_id,
    dist), ...]}`` in (dist asc, n_id asc) order with NaN last and self
    rows (``n_id == q_id``) excluded.

    Element-at-a-time Python arithmetic in the documented fold order:
    sequential L2 norm, sequential squared-L2 subvector folds, first-min
    code assignment, and the ADC terms summed in subspace order.
    """
    m = len(books)
    dsub = len(books[0][0])

    def unit(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        n = math.sqrt(acc)
        if not normalize:
            return list(v)
        # a zero-norm vector is all zeros: 0 / 0 is NaN in IEEE doubles
        return [x / n if n else math.nan for x in v]

    def sub_dist(v, j, c):
        acc = 0.0
        for i in range(dsub):
            diff = v[j * dsub + i] - books[j][c][i]
            acc = acc + diff * diff
        return acc

    def code(v, j):
        ds = [sub_dist(v, j, c) for c in range(len(books[j]))]
        best = 0
        for c in range(1, len(ds)):
            if ds[c] < ds[best]:
                best = c
        return best

    codes = {i: [code(unit(v), j) for j in range(m)] for i, v in corpus}
    out = {}
    for q, qv in queries:
        u = unit(qv)
        lut = [
            [sub_dist(u, j, c) for c in range(len(books[j]))]
            for j in range(m)
        ]
        cand = []
        for n, cs in codes.items():
            if n == q:
                continue
            d = 0.0
            for j in range(m):
                d = d + lut[j][cs[j]]
            cand.append((n, d))
        cand.sort(key=lambda t: (math.isnan(t[1]), _nan_to_0(t[1]), t[0]))
        out[q] = cand[:k]
    return out
