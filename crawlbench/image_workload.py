"""The ``image_dedup`` workload: repeated dedup, similarity and invariant
ops over a generated image + caption table with planted near-duplicates.

It is the only workload that runs ``sources.images``,
``sources.multimodal``, ``operators.dedup`` and ``operators.similarity``,
and it never touches the frontier, so frontier changes should leave it
unchanged. One op is a pass of five operators over the table, each up to
its materialised (collected) result:

1. ``images.check_invariants``: per-row PSNR / caption / phash check;
2. ``dedup.phash_near_dup_pairs``: banded perceptual-hash pairs;
3. ``multimodal.extract_image_features``: the embedding of every row;
4. ``similarity.embedding_near_dup_pairs`` over
   ``extract_image_features`` (features recomputed inside the op);
5. ``dedup.minhash_lsh_pairs`` over the captions.

The table is ``images.generate_image_table`` plus rows the seed plants:
``dup-<n>`` re-encodes image ``n`` (stored raw) as lossy ``qjpg`` with the
same caption and phash, a near-duplicate that passes the invariants;
``edit-<n>`` paints one cell of image ``n``'s 8 × 8 phash grid, which
moves a few phash bits and fails the PSNR invariant. Every result is
compared with an exact all-pairs computation made at set-up: pair sets
exactly for precision and against a recall floor for the approximate
(LSH) operators.
"""

from __future__ import annotations

import os
import random
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from podcast_plow_spark.operators import dedup, similarity
from podcast_plow_spark.sources import images, multimodal

SIZES = {"n_images": 3000, "n_dups": 150, "n_edits": 30, "w": 32, "h": 24, "partitions": 4}
PHASH = {"n_bands": 4, "bits_per_band": 16, "max_hamming": 8}
#: the features of uniform-noise thumbnails sit in a narrow cone, so the
#: cosine threshold is tight: dups score 0.9999-1.0, unrelated rows
#: reach it only in the tail
EMBED = {"threshold": 0.9999, "n_bins": 10, "bucket_cap": None, "round_digits": 4}
#: same-word captions differ only in their "(#n)" token: Jaccard 0.8;
#: planted rows copy the caption: 1.0; anything else is below 0.7
MINHASH = {"jaccard_threshold": 0.7}
#: recall floors of the LSH operators (precision is always checked exactly)
RECALL_FLOOR = {"phash": 0.8, "embed": 0.95, "minhash": 0.8}
#: float slack between the engine's and the oracle's rounded scores
TOL = 1e-4
OPERATORS = [
    "images.check_invariants",
    "dedup.phash_near_dup_pairs",
    "multimodal.extract_image_features",
    "similarity.embedding_near_dup_pairs",
    "dedup.minhash_lsh_pairs",
]
#: untimed passes before the measured ones; passes per run, warm-up included
WARMUP_PASSES = 2
MAX_PASSES = 12
#: embedding_near_dup_pairs needs integer ids: image_id prefix → offset
_ID_OFFSET = {"img": 0, "dup": 10**8, "edit": 2 * 10**8}


def _vec_id(image_id: str) -> int:
    prefix, n = image_id.rsplit("-", 1)
    return _ID_OFFSET[prefix] + int(n)


def _vec_id_col():
    n = F.substring_index("image_id", "-", -1).cast("long")
    prefix = F.substring_index("image_id", "-", 1)
    off = F.when(prefix == "dup", _ID_OFFSET["dup"]).when(prefix == "edit", _ID_OFFSET["edit"]).otherwise(0)
    return (n + off).alias("vec_id")


def features_np(stack: np.ndarray, n_bins: int) -> np.ndarray:
    """Per-channel mean/std and luma histogram, computed directly from the
    decoded (B, h, w, 3) pixels: the reference for extract_image_features."""
    fl = stack.astype(np.float64)
    b, h, w, _ = stack.shape
    luma = fl.mean(axis=3)
    bins = np.minimum((luma * n_bins / 256.0).astype(np.int64), n_bins - 1)
    hist = np.stack([np.bincount(x.ravel(), minlength=n_bins) for x in bins]) / float(h * w)
    return np.concatenate([fl.mean(axis=(1, 2)) / 255.0, fl.std(axis=(1, 2)) / 255.0, hist], axis=1)


def exact_phash(stack: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The 64-bit average hash of each (h, w, 3) image in integer
    arithmetic (bit = block mean > mean of block means, i.e.
    64 · block sum > total sum), and the mask of its tie bits, where a
    block mean equals the global mean exactly. A floating-point kernel
    may set a tie bit either way. h and w must be multiples of 8."""
    b, h, w, _ = stack.shape
    sums = stack.astype(np.int64).sum(axis=3).reshape(b, 8, h // 8, 8, w // 8).sum(axis=(2, 4)).reshape(b, 64)
    total = sums.sum(axis=1, keepdims=True)
    weights = 1 << np.arange(63, dtype=np.int64)
    return ((sums * 64 > total)[:, :63] * weights).sum(axis=1), ((sums * 64 == total)[:, :63] * weights).sum(axis=1)


def _popcount64(x: np.ndarray) -> np.ndarray:
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _phash_pairs(ids: list[str], ph: np.ndarray, max_h: int) -> dict:
    """Every pair at most ``max_h`` bits apart: (a_id, b_id) → distance."""
    out = {}
    u = ph.astype(np.uint64)
    step = 1024
    for s in range(0, len(ids), step):
        d = _popcount64(u[s : s + step, None] ^ u[None, s:])
        for i, j in zip(*np.nonzero(d <= max_h)):
            if i < j:
                a, b = sorted((ids[s + i], ids[s + j]))
                out[(a, b)] = int(d[i, j])
    return out


def _cosine_pairs(vids: np.ndarray, vecs: np.ndarray, floor: float, digits: int) -> dict:
    """Every pair whose cosine, rounded to ``digits``, is ≥ ``floor``."""
    norms = np.linalg.norm(vecs, axis=1)
    unit = vecs / np.where(norms == 0, 1.0, norms)[:, None]
    out = {}
    step = 1024
    for s in range(0, len(vids), step):
        sims = np.round(unit[s : s + step] @ unit.T, digits)
        for i, j in zip(*np.nonzero(sims >= floor)):
            a, b = int(vids[s + i]), int(vids[j])
            if a < b:
                out[(a, b)] = float(sims[i, j])
    return out


def _jaccard_pairs(ids: list[str], texts: list[str], floor: float) -> dict:
    """Exact all-pairs 3-word-shingle Jaccard ≥ ``floor`` by prefix
    filtering (PPJoin: records in size order, tokens rarest first; a
    record probes its first ``|s| - ceil(t·|s|) + 1`` tokens against the
    first ``|s| - ceil(2t/(1+t)·|s|) + 1`` tokens of the records before
    it), then the exact Jaccard of every candidate."""
    sets = []
    for t in texts:
        toks = t.strip().split()
        sets.append({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
    freq: dict[str, int] = defaultdict(int)
    for s in sets:
        for x in s:
            freq[x] += 1
    index: dict[str, list[int]] = defaultdict(list)
    cand: set[tuple[int, int]] = set()
    eps = 1e-9
    for i in sorted(range(len(sets)), key=lambda k: len(sets[k])):
        s = sets[i]
        order = sorted(s, key=lambda x: (freq[x], x))
        for x in order[: len(s) - int(np.ceil(floor * len(s) - eps)) + 1]:
            for j in index[x]:
                cand.add((j, i))
        for x in order[: len(s) - int(np.ceil(2 * floor / (1 + floor) * len(s) - eps)) + 1]:
            index[x].append(i)
    out = {}
    for i, j in cand:
        inter = len(sets[i] & sets[j])
        jac = round(inter / (len(sets[i]) + len(sets[j]) - inter), 4)
        if jac >= floor:
            a, b = sorted((ids[i], ids[j]))
            out[(a, b)] = jac
    return out


def _recall(found: set, wanted: set) -> float:
    return len(found & wanted) / len(wanted) if wanted else 1.0


class ImageDedupWorkload:
    KIND = "images"

    def __init__(self, run_dir: str, seed: int):
        self.seed = seed
        self.table = os.path.join(run_dir, "images")
        self.images = None
        self.spark = None
        self.n_rows = 0
        self.passes = 0
        #: seconds per operator call, per pass
        self.call_s: list[list[float]] = []
        self.oracle: dict = {}
        self.oracle_s = 0.0
        #: lowest recall seen per approximate operator
        self.recall: dict[str, float] = {}
        #: rows with a phash tie that check_invariants failed
        self.ambiguous_failed: list[str] = []
        #: (operator name, collected result) per call, warm-up included
        self.results: list[tuple[str, object]] = []

    def sizes(self) -> dict:
        return {**SIZES, "phash": PHASH, "embed": EMBED, "minhash": MINHASH, "rows": self.n_rows,
                "max_passes": MAX_PASSES, "passes_run": self.passes}

    # -- inputs and oracle (timed apart from set-up) -----------------------

    def generate(self, spark) -> None:
        w, h = SIZES["w"], SIZES["h"]
        images.generate_image_table(spark, SIZES["n_images"], self.table, w=w, h=h, partitions=SIZES["partitions"])
        base = pq.read_table(self.table)
        rng = random.Random(self.seed)
        even = range(0, SIZES["n_images"], 2)  # stored raw: exact reference pixels
        by_id = {r["image_id"]: r for r in base.to_pylist()}
        extra = []
        for n in sorted(rng.sample(even, SIZES["n_dups"])):
            r = by_id[f"img-{n:08d}"]
            px = images.decode_image(r["bytes"], "raw", w, h)
            extra.append({**r, "image_id": f"dup-{n:08d}", "bytes": images.encode_image(px, "qjpg"), "fmt": "qjpg"})
        for n in sorted(rng.sample(even, SIZES["n_edits"])):
            r = by_id[f"img-{n:08d}"]
            px = images.decode_image(r["bytes"], "raw", w, h).copy()
            cy, cx = rng.randrange(8), rng.randrange(8)
            px[cy * h // 8 : (cy + 1) * h // 8, cx * w // 8 : (cx + 1) * w // 8] = rng.choice((0, 255))
            extra.append({**r, "image_id": f"edit-{n:08d}", "bytes": images.encode_image(px, "raw"),
                          "phash": images.phash64(px)})
        pq.write_table(pa.Table.from_pylist(extra, schema=base.schema), os.path.join(self.table, "planted.parquet"))
        t = time.perf_counter()
        self._make_oracle([*by_id.values(), *extra])
        self.oracle_s = time.perf_counter() - t

    def _make_oracle(self, rows: list[dict]) -> None:
        """Expected results. A row passes the invariants when its decoded
        pixels are within 40 dB PSNR of the reference image its id names
        and its stored phash equals the reference's exact average hash;
        captions are the generator's own (planted rows copy them). Where
        the stored hash differs from the exact one only in tie bits, the
        specification does not decide the row and either outcome is
        accepted; such rows are counted in ``ambiguous``."""
        w, h = SIZES["w"], SIZES["h"]
        ids = [r["image_id"] for r in rows]
        self.n_rows = len(rows)
        stack = np.stack([np.frombuffer(r["bytes"], np.uint8).reshape(h, w, 3) for r in rows])
        ref = images.pixels_batch([int(i.rsplit("-", 1)[1]) for i in ids], w, h)
        mse = ((ref.astype(np.float64) - stack) ** 2).mean(axis=(1, 2, 3))
        psnr_ok = (mse == 0) | (10.0 * np.log10(255.0**2 / np.maximum(mse, 1e-12)) >= 40.0)
        exact, ties = exact_phash(ref)
        diff = np.array([r["phash"] for r in rows], dtype=np.int64) ^ exact
        ambiguous = psnr_ok & ((diff & ~ties) == 0) & (ties != 0)
        phash_ok = diff == 0
        feats = features_np(stack, EMBED["n_bins"])
        vids = np.array([_vec_id(i) for i in ids], dtype=np.int64)
        self.oracle = {
            "failed": {i for i, ok, amb in zip(ids, psnr_ok & phash_ok, ambiguous) if not ok and not amb},
            "ambiguous": {i for i, amb in zip(ids, ambiguous) if amb},
            "features": dict(zip(ids, feats)),
            "phash": _phash_pairs(ids, np.array([r["phash"] for r in rows], dtype=np.int64), PHASH["max_hamming"]),
            "embed": _cosine_pairs(vids, feats, EMBED["threshold"] - TOL, EMBED["round_digits"]),
            "minhash": _jaccard_pairs(ids, [r["caption"] for r in rows], MINHASH["jaccard_threshold"] - TOL),
        }

    # -- ops ---------------------------------------------------------------

    def setup(self, spark) -> None:
        self.spark = spark
        self.images = spark.read.parquet(self.table)
        # warm-up, timed as set-up: the first pass runs ~15 s (first plans,
        # Python workers), the second still ~12 % above the third; later
        # passes keep getting faster, so every run measures passes 3 and 4
        for _ in range(WARMUP_PASSES):
            self.op()

    def has_next(self) -> bool:
        return self.passes < MAX_PASSES

    def op(self) -> None:
        times = []
        for name in OPERATORS:
            t = time.perf_counter()
            result = getattr(self, "op_" + name.split(".")[1])()
            times.append(round(time.perf_counter() - t, 4))
            self.results.append((name, result))
        self.call_s.append(times)
        self.passes += 1

    def op_check_invariants(self):
        res = images.check_invariants(self.images)
        row = res.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(~F.col("passed"), F.col("image_id"))).alias("failed"),
        ).collect()[0]
        return int(row["n"]), set(row["failed"])

    def op_phash_near_dup_pairs(self):
        pairs = dedup.phash_near_dup_pairs(self.images, **PHASH)
        return {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs.collect()}

    def op_extract_image_features(self):
        feats = multimodal.extract_image_features(self.images, n_bins=EMBED["n_bins"])
        return {r["image_id"]: r["embedding"] for r in feats.collect()}

    def op_embedding_near_dup_pairs(self):
        feats = multimodal.extract_image_features(self.images, n_bins=EMBED["n_bins"])
        emb = feats.select(_vec_id_col(), "embedding")
        pairs = similarity.embedding_near_dup_pairs(
            self.spark, emb, threshold=EMBED["threshold"], bucket_cap=EMBED["bucket_cap"],
            round_digits=EMBED["round_digits"], dim=6 + EMBED["n_bins"],
        )
        return {(r["a_id"], r["b_id"]): r["cos_sim"] for r in pairs.collect()}

    def op_minhash_lsh_pairs(self):
        docs = self.images.select("image_id", "caption")
        pairs = dedup.minhash_lsh_pairs(docs, id_col="image_id", text_col="caption", **MINHASH)
        return {(r["a_id"], r["b_id"]): r["jaccard"] for r in pairs.collect()}

    # -- verification ------------------------------------------------------

    def _recall_ok(self, name: str, got: set, want: set, floor: float) -> str | None:
        rec = _recall(got, want)
        self.recall[name] = min(rec, self.recall.get(name, 1.0))
        return None if rec >= floor else f"recall {rec:.3f} below {floor}"

    def _scored_pairs(self, name: str, got: dict, want: dict, threshold: float, floor: float) -> str | None:
        """Precision exactly (every pair found, with its score), recall
        against ``floor`` over the pairs clear of the threshold."""
        for pair, score in got.items():
            ref = want.get(pair)
            if ref is None or abs(score - ref) > TOL or score < threshold:
                return f"pair {pair} score {score} not in the exact result ({ref})"
        return self._recall_ok(name, set(got), {p for p, s in want.items() if s >= threshold + TOL}, floor)

    def _verify(self, name: str, result) -> str | None:
        o = self.oracle
        if name == "images.check_invariants":
            n, failed = result
            self.ambiguous_failed = sorted(failed & o["ambiguous"])
            if n != self.n_rows or failed - o["ambiguous"] != o["failed"]:
                return f"{n} rows checked, {len(failed)} failed; want {self.n_rows}, {len(o['failed'])}"
            return None
        if name == "dedup.phash_near_dup_pairs":
            for pair, d in result.items():
                if o["phash"].get(pair) != d:
                    return f"pair {pair} hamming {d} not in the exact result"
            sure = {p for p, d in o["phash"].items() if d < PHASH["n_bands"]}  # pigeonhole: always found
            if not sure <= set(result):
                return "a pair within n_bands - 1 bits is missing"
            return self._recall_ok(name, set(result), set(o["phash"]), RECALL_FLOOR["phash"])
        if name == "multimodal.extract_image_features":
            if result.keys() != o["features"].keys():
                return f"{len(result)} embeddings for {len(o['features'])} rows"
            worst = max(float(np.max(np.abs(np.asarray(v) - o["features"][k]))) for k, v in result.items())
            return None if worst <= 1e-9 else f"embedding off by {worst}"
        if name == "similarity.embedding_near_dup_pairs":
            return self._scored_pairs(name, result, o["embed"], EMBED["threshold"], RECALL_FLOOR["embed"])
        return self._scored_pairs(name, result, o["minhash"], MINHASH["jaccard_threshold"], RECALL_FLOOR["minhash"])

    def check(self, n_ops: int) -> dict:
        """A pass with any wrong result counts as one failed op."""
        errors: list[str] = []
        failed = set()
        first_measured = self.passes - n_ops
        for k, (name, result) in enumerate(self.results):
            err = self._verify(name, result)
            if err:
                errors.append(f"{name}: {err}")
                failed.add(k // len(OPERATORS))
        failed_ops = sum(1 for p in failed if p >= first_measured)
        if errors and not failed_ops:
            failed_ops = 1  # a wrong warm-up pass
        return {
            "correct": not errors,
            "failed_ops": failed_ops,
            "items": n_ops * len(OPERATORS) * self.n_rows,
            "errors": errors,
            "oracle_s": self.oracle_s,
            "details": {
                "call_s": dict(zip(OPERATORS, zip(*self.call_s))),
                "recall": self.recall,
                "phash_ties": {"rows": sorted(self.oracle["ambiguous"]), "failed": self.ambiguous_failed},
            },
        }

    def op_stats(self) -> list[dict]:
        """Per operator call after the warm-up pass: its name and the size
        of its result."""
        out = []
        for name, result in self.results[WARMUP_PASSES * len(OPERATORS):]:
            if name == "images.check_invariants":
                out.append({"op": name, "rows_checked": result[0], "rows_failed": len(result[1])})
            else:
                out.append({"op": name, "rows_out": len(result)})
        return out
