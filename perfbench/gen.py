"""Seeded input generators for the benchmark workloads.

Every generator is pure NumPy / PyArrow (no Spark), so generating inputs
compiles no Spark code and touches none of the workload's plans. The
same seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Dee geometry the MC rays cover (datagen.R_INNER/R_OUTER, x >= 0 half).
R_INNER, R_OUTER = 315.0, 1185.0
MODULE_PITCH_X = 43.6  # 42.5 mm sensor + gap
MODULE_PITCH_Y = 44.8  # two 22 mm sensors + gaps
MODULE_HALF_X, MODULE_HALF_Y = 21.25, 22.0
FACES = [("disk1", "front"), ("disk1", "back"), ("disk2", "front"), ("disk2", "back")]
FACE_Z = [2998.25, 3005.5, 3020.75, 3028.5]

# The shipped documents corpus draws uniform words from this vocabulary.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
NEAR_DUP_RATE = 0.02
EXACT_DUP_RATE = 0.005


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def face_tsvs(seed: int, out_dir: str, pitch_scale: float = 1.0) -> dict:
    """One module-center TSV per dee face (`Module X Y Z`, tab-separated).

    Modules sit on a rectangular grid clipped to the annulus; the seed
    jitters each face's grid offset, so faces overlap differently and the
    acceptance profile changes with the seed. `pitch_scale` > 1 thins the
    grid (tiny test sizes). Returns {(disk, face): path}."""
    os.makedirs(out_dir, exist_ok=True)
    px, py = MODULE_PITCH_X * pitch_scale, MODULE_PITCH_Y * pitch_scale
    paths = {}
    for i, ((disk, face), z) in enumerate(zip(FACES, FACE_Z)):
        ox, oy = _rng(seed, 100 + i).uniform(0.0, 1.0, 2) * (px, py)
        xs = ox + px * np.arange(int(R_OUTER / px) + 2)
        ys = oy + py * np.arange(-int(R_OUTER / py) - 2, int(R_OUTER / py) + 2)
        gx, gy = np.meshgrid(xs, ys, indexing="ij")
        gx, gy = gx.ravel(), gy.ravel()
        # keep modules whose whole outline lies inside the annulus
        far = np.hypot(np.abs(gx) + MODULE_HALF_X, np.abs(gy) + MODULE_HALF_Y)
        near = np.hypot(
            np.maximum(np.abs(gx) - MODULE_HALF_X, 0.0),
            np.maximum(np.abs(gy) - MODULE_HALF_Y, 0.0),
        )
        keep = (far < R_OUTER) & (near > R_INNER) & (gx - MODULE_HALF_X > 0)
        path = os.path.join(out_dir, f"{disk}_{face}.tsv")
        with open(path, "w") as fh:
            fh.write("Module\tX\tY\tZ\n")
            for m, (x, y) in enumerate(zip(gx[keep], gy[keep])):
                fh.write(f"{m}\t{x:.3f}\t{y:.3f}\t{z}\n")
        paths[(disk, face)] = path
    return paths


def _base_texts(rng: np.random.Generator, n: int) -> list[str]:
    """`n` documents of uniform vocabulary words; a seeded share are near
    or exact copies of an earlier document, so dedup has real clusters."""
    lengths = rng.integers(8, 100, n)
    texts: list[str] = []
    originals: list[int] = []  # copies are made of originals only, so clusters stay small
    for i in range(n):
        u = rng.random()
        if originals and u < EXACT_DUP_RATE:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
            continue
        if originals and u < EXACT_DUP_RATE + NEAR_DUP_RATE:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), lengths[i])]
            originals.append(i)
        texts.append(" ".join(words))
    return texts


def _rotate(text: str, shift: int) -> str:
    if shift == 0:
        return text
    table = str.maketrans(
        "abcdefghijklmnopqrstuvwxyz",
        "".join(chr(ord("a") + (k + shift) % 26) for k in range(26)),
    )
    return text.translate(table)


def documents(seed: int, out_dir: str, n_base: int, copies: int = 4) -> str:
    """`copies` alphabet-rotated copies of an `n_base`-document corpus
    shaped like the shipped `documents` table (doc_id dense from 0, text,
    lang, source, n_chars). Rotations are distinct per copy, so the copies
    share no shingles and the near-duplicate structure repeats `copies`
    times. Writes `documents.parquet`; returns its path."""
    rng = _rng(seed, 200)
    base = _base_texts(rng, n_base)
    shifts = [0] + [int(s) for s in rng.choice(np.arange(1, 26), copies - 1, replace=False)]
    texts = [_rotate(t, s) for s in shifts for t in base]
    n = len(texts)
    langs = rng.choice(LANGS, n, p=LANG_P)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return path


def part_and_orders(seed: int, out_dir: str, n_part: int = 2000, n_orders: int = 10000) -> None:
    """Small TPC-H-shaped `part` and `orders` tables (the two relational
    inputs of the layout studies: `partition_flavors` reads p_size,
    `ring_classification` reads orders)."""
    rng = _rng(seed, 300)
    os.makedirs(out_dir, exist_ok=True)
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"part{i}" for i in range(n_part)]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(["ECONOMY", "SMALL", "LARGE", "PROMO"], n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + rng.random(n_part) * 1100.0, 2)),
        }
    )
    pq.write_table(part, os.path.join(out_dir, "part.parquet"))
    n_cust = max(1, n_orders // 10)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders).tolist()),
            "o_totalprice": pa.array(np.round(1000.0 + rng.random(n_orders) * 4e5, 2)),
            "o_orderdate": pa.array(
                (np.datetime64("1992-01-01") + rng.integers(0, 2500, n_orders)).astype(
                    "datetime64[us]"
                )
            ),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders).tolist()
            ),
        }
    )
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))
