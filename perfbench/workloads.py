"""Seeded inputs, measured reps and output checks for each workload.

A workload's life in one run:

* ``setup()``   - make the inputs from the seed, once per run.
* ``rep(mat, span, clock)`` - one measured unit of work, on a fresh
  ``Materializer``; the caller clears Spark's DataFrame cache first.
  ``span(layer, name)`` marks the output's materialization for the
  traced run (a no-op otherwise); work inside ``clock.untimed()`` (the
  collection of what the checks need) is left out of the rep's wall
  time and out of the traced run's windows.
  The first rep of a run is the first call into the library in a new
  driver, the latency a one-shot job sees; there is no warm-up.
* ``check()``   - output checks, outside every timed region.  Returns
  the number of failed operations and appends messages to ``errors``.
  A seed's output hash goes into the ledger only when every other check
  on the run passed.

The program only ever sees the generated inputs.  Everything is built
through the library's public API (``community_detection_flink_spark``
and its ``operators.incremental`` and ``operators.dedup`` modules); library calls go through module
attributes so that the traced run's wrappers see them.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

from pyspark.sql import functions as F

import community_detection_flink_spark as cdfs
from community_detection_flink_spark.operators import dedup as dedup_ops
from community_detection_flink_spark.operators import incremental as inc

import pywcc_oracle


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()[:16]


def _write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


class Ledger:
    """Results of earlier runs of the same seed on the same sources,
    kept in the checkout, so a run can check that its output hash is
    identical to theirs.  Global WCC is compared to 12 significant
    digits: Spark may add the per-vertex terms in another order."""

    def __init__(self, cache_dir: str, fingerprint: str):
        self.dir = os.path.join(cache_dir, "ledger")
        self.fp = fingerprint

    def check(self, key: str, value: dict, errors: list) -> int:
        path = os.path.join(self.dir, f"{key}-{self.fp}.json")
        if os.path.exists(path):
            with open(path) as f:
                old = json.load(f)
            if old != value:
                errors.append(f"{key}: output differs from an earlier run: {old} != {value}")
                return 1
            return 0
        _write_json(path, value)
        return 0


# ----------------------------------------------------------------------
# batch_copurchase: prepare, then save and load the state
# ----------------------------------------------------------------------
N_PARTS = 1500  # the part count of TPC-H scale factor 0.0075
ORDERS_PER_PART = 7.5  # TPC-H: 1,500,000 orders and 200,000 parts per unit of scale


def lineitem_rows(seed: int, n_parts: int = N_PARTS):
    """``(l_orderkey, l_partkey)`` rows shaped like TPC-H ``lineitem``:
    1 to 7 lines per order, ``l_partkey`` uniform over the parts, 7.5
    orders per part.  Drawn afresh for every seed."""
    rng = random.Random(f"lineitem-{seed}")
    return [
        (order, rng.randrange(n_parts))
        for order in range(int(n_parts * ORDERS_PER_PART))
        for _ in range(rng.randint(1, 7))
    ]


def _state_digest(state) -> dict:
    """Order-free digest of every part of a ``WCCState``: row count and
    sum of row hashes per DataFrame, plus the scalars."""
    out = {"global_wcc": f"{state.global_wcc:.12g}", "vertex_count": state.vertex_count}
    for name in ("edges", "clean_edges", "vertices", "stats", "tri", "wccv"):
        df = getattr(state, name)
        if df is None:
            out[name] = None
            continue
        cols = sorted(df.columns)
        row = df.agg(
            F.count("*").alias("n"), F.sum(F.hash(*cols).cast("long")).alias("h")
        ).first()
        out[name] = [int(row["n"]), int(row["h"] or 0)]
    return out


class BatchCopurchase:
    """``prepare`` (the batch pipeline, ``run_wcc``, plus the state an
    incremental stream starts from) on ``co_purchase_edges`` of a
    seeded ``lineitem`` table, then ``save_state`` and ``load_state``."""

    name = "batch_copurchase"

    def __init__(self, spark, seed: int, work: str, cache: str, ledger: Ledger):
        self.spark, self.seed, self.cache, self.ledger = spark, seed, cache, ledger
        self.work = work
        self.sf_dir = os.path.join(work, "sf")
        self.reps: list = []

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.rows = lineitem_rows(self.seed)
        os.makedirs(self.sf_dir, exist_ok=True)
        keys, parts = zip(*self.rows)
        pq.write_table(
            pa.table({"l_orderkey": list(keys), "l_partkey": list(parts)}),
            os.path.join(self.sf_dir, "lineitem.parquet"),
        )

    def rep(self, mat, span, clock) -> None:
        ckpt = os.path.join(self.work, f"state-{len(self.reps)}")
        edges = cdfs.co_purchase_edges(self.spark, self.sf_dir)
        state = inc.prepare(edges, mat=mat)
        inc.save_state(state, ckpt)
        loaded = inc.load_state(self.spark, ckpt)
        with span("pipeline", "collect"):
            labels = [(r["vId"], r["cId"]) for r in loaded.vertices.select("vId", "cId").collect()]
        with clock.untimed():
            self.reps.append(
                {
                    "labels": labels,
                    "state": _state_digest(state),
                    "loaded": _state_digest(loaded),
                    "global_wcc": float(loaded.global_wcc),
                }
            )

    def ops(self) -> int:
        return len(self.reps)

    def global_wcc(self) -> float:
        return self.reps[-1]["global_wcc"]

    def check(self, errors: list) -> int:
        by_order: dict = {}
        for order, part in self.rows:
            by_order.setdefault(order, set()).add(part)
        pairs = sorted({(a, b) for p in by_order.values() for a in p for b in p if a != b})
        want = self._oracle(pairs)
        failed = 0
        for out in self.reps:
            bad = []
            vids = [v for v, _ in out["labels"]]
            if len(vids) != len(set(vids)) or any(c is None for _, c in out["labels"]):
                bad.append("a vertex does not have exactly one cId")
            got = dict(out["labels"])
            if got != want:
                n = sum(1 for v in want if got.get(v) != want[v]) + len(set(got) - set(want))
                bad.append(f"prepare: {n} of {len(want)} labels differ from pywcc_oracle")
            if out["loaded"] != out["state"]:
                bad.append(f"load_state(save_state(s)) != s: {out['loaded']} != {out['state']}")
            errors += bad
            failed += bool(bad)
        if not failed:
            failed += self.ledger.check(
                f"{self.name}-{self.seed}",
                {
                    "vid_cid": _digest(self.reps[-1]["labels"]),
                    "global_wcc": f"{self.global_wcc():.12g}",
                },
                errors,
            )
        return failed

    def _oracle(self, pairs) -> dict:
        """Oracle labels, cached on disk per input hash."""
        path = os.path.join(self.cache, "oracle", f"{_digest(pairs)}.json")
        if os.path.exists(path):
            with open(path) as f:
                return {int(k): v for k, v in json.load(f).items()}
        res = pywcc_oracle.run_wcc_oracle(pairs)["communities"]
        _write_json(path, res)
        return res


# ----------------------------------------------------------------------
# dedup_groups: MinHash LSH pairs, then connected-components groups
# ----------------------------------------------------------------------
def planted_corpus(seed: int, n_base: int = 1000, n_sources: int = 150):
    """``(docs, planted)``: ``docs`` rows ``(doc_id, text)``; ``planted``
    maps each near-duplicate copy's id to its source's id.  Base texts
    draw 30 to 80 tokens from 1,000 words; each source gets two copies,
    each its source with one token added at the front or the back, so a
    copy's 3-token shingle Jaccard with its source is above 0.95 and
    every seed plants the same group shapes."""
    rng = random.Random(f"corpus-{seed}")
    vocab = [f"w{i:03d}" for i in range(1000)]
    texts = [rng.choices(vocab, k=rng.randint(30, 80)) for _ in range(n_base)]
    copies = []
    for src in rng.sample(range(n_base), n_sources):
        for _ in range(2):
            t = list(texts[src])
            if rng.random() < 0.5:
                t.insert(0, rng.choice(vocab))
            else:
                t.append(rng.choice(vocab))
            copies.append((src, t))
    ids = list(range(n_base + len(copies)))
    rng.shuffle(ids)
    docs = [(ids[i], " ".join(t)) for i, t in enumerate(texts)]
    planted = {}
    for j, (src, t) in enumerate(copies):
        docs.append((ids[n_base + j], " ".join(t)))
        planted[ids[n_base + j]] = ids[src]
    return sorted(docs), planted


def reference_lsh_pairs(rows, num_hashes: int, bands: int, shingle_n: int) -> dict:
    """``{(doc_a, doc_b): n_bands}`` for ``rows`` of ``(doc_id, text)``:
    the banded MinHash LSH that ``minhash_lsh_pairs`` documents, in pure
    Python.  Word ``shingle_n``-grams of the lowercased whitespace
    tokens (the whole text when shorter), each hashed once to the first
    15 hex digits of its md5 mod p, then the library's affine
    permutations ``(a_i x + b_i) mod p``; two documents pair once per
    band of ``num_hashes / bands`` rows on which their signatures agree."""
    coeffs = dedup_ops.minhash_coeffs(num_hashes)
    p = dedup_ops.MINHASH_MOD
    per_band = num_hashes // bands
    buckets: dict = {}
    for doc_id, text in rows:
        toks = text.lower().split()
        if len(toks) < shingle_n:
            shingles = [" ".join(toks)]
        else:
            shingles = [" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)]
        base = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % p for s in shingles]
        sig = [min((x * a + b) % p for x in base) for a, b in coeffs]
        for band in range(bands):
            key = (band, tuple(sig[band * per_band : (band + 1) * per_band]))
            buckets.setdefault(key, []).append(doc_id)
    pairs: dict = {}
    for ids in buckets.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                key = (min(a, b), max(a, b))
                pairs[key] = pairs.get(key, 0) + 1
    return pairs


def union_find_groups(doc_ids, pairs) -> dict:
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in doc_ids}


LSH_PARAMS = (8, 4, 3)  # num_hashes, bands, shingle_n


class DedupGroups:
    """``minhash_lsh_pairs(docs, 8, 4, 3)`` then ``dedup_groups`` over
    a seeded corpus with planted near-duplicates."""

    name = "dedup_groups"

    def __init__(self, spark, seed: int, work: str, cache: str, ledger: Ledger):
        self.spark, self.seed, self.ledger = spark, seed, ledger
        self.outputs: list = []

    def setup(self) -> None:
        self.rows, self.planted = planted_corpus(self.seed)
        self.doc_ids = [d for d, _ in self.rows]
        self.docs = self.spark.createDataFrame(self.rows, "doc_id LONG, text STRING")

    def rep(self, mat, span, clock) -> None:
        pairs = dedup_ops.minhash_lsh_pairs(self.docs, *LSH_PARAMS)
        groups = cdfs.dedup_groups(self.docs, pairs)
        with span("components", "collect"):
            self.outputs.append(groups.collect())

    def ops(self) -> int:
        return len(self.outputs)

    def check(self, errors: list) -> int:
        ref = reference_lsh_pairs(self.rows, *LSH_PARAMS)
        got_pairs = {
            (r["doc_a"], r["doc_b"]): r["n_bands"]
            for r in dedup_ops.minhash_lsh_pairs(self.docs, *LSH_PARAMS).collect()
        }
        failed = 0
        if got_pairs != ref:
            errors.append(
                f"minhash_lsh_pairs differs from the reference LSH: "
                f"{len(set(got_pairs.items()) ^ set(ref.items()))} pairs differ"
            )
            failed += 1
        pairs = sorted(ref)
        want = union_find_groups(self.doc_ids, pairs)
        sizes: dict = {}
        for g in want.values():
            sizes[g] = sizes.get(g, 0) + 1
        # Equality with ``want`` groups every planted copy with its source
        # except the copies LSH itself misses: a copy whose signature
        # shares no band with its source's.
        missed = sum(want[c] != want[s] for c, s in self.planted.items())
        if missed:
            print(f"perfbench: planted copies the reference LSH misses: {missed}", file=sys.stderr)
        for out in self.outputs:
            got = {r["doc_id"]: (r["group_id"], r["group_size"]) for r in out}
            if got != {d: (g, sizes[g]) for d, g in want.items()}:
                errors.append("dedup_groups differs from a union-find over the reference pairs")
                failed += 1
        groups = {r["doc_id"]: r["group_id"] for r in self.outputs[-1]}
        self._wcc = self._groups_wcc(pairs, groups)
        if not failed:
            failed += self.ledger.check(
                f"{self.name}-{self.seed}",
                {"groups": _digest(groups.items()), "global_wcc": f"{self._wcc:.12g}"},
                errors,
            )
        return failed

    def global_wcc(self) -> float:
        return self._wcc

    @staticmethod
    def _groups_wcc(pairs, groups) -> float:
        """WCC of the dedup grouping as a partition of the pair graph."""
        adj = pywcc_oracle.symmetrize(pairs)
        clean_adj, t, vt, _cc, tri = pywcc_oracle.preprocess(adj)
        labels = {v: groups[v] for v in clean_adj}
        stats = pywcc_oracle.community_stats(clean_adj, labels)
        return pywcc_oracle.global_wcc(clean_adj, labels, t, vt, tri, stats, len(adj))


WORKLOADS = {w.name: w for w in (BatchCopurchase, DedupGroups)}
