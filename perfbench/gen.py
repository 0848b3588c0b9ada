"""Seeded input generators for the three workloads.

Every generator draws from one numpy Generator seeded with the
workload seed, so the same seed writes byte-identical files and a
different seed writes different ones. The program only ever sees the
files written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
# olhovivo_day: one-minute polls from 06:00 to 10:00 (around the
# 07:00-09:00 crawl window) for a small fleet. The pass (EP2 + EP3)
# stays a few seconds at 4 cores so a run holds several.
FLEET = 250
FIRST_MINUTE = 360
MINUTES = 240
DAY = "2026-08-10"
DAY_START = 1786320000  # 2026-08-10T00:00:00Z

# corpus_web: the `documents` table. NEAR_DUP_RATE of its documents
# are planted near-duplicates.
DOCS = 300
NEAR_DUP_RATE = 0.25
# Vocabulary of the repository test data's documents table (TESTDATA.md).
VOCAB = ("row the query stream value hash batch sort data big filter dup "
         "fast spark line small customer group key agg scan slow table part "
         "a merge window order column join vector").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]

# corpus_web: a lineitem-shaped table whose order co-occurrence graph
# (q110) has ~100k distinct directed edges: under PageRank's default
# 1M-edge driver-local limit, so q110 takes the driver-local path. The traced
# run's PageRank probe ranks twelve disjoint copies of it (~1.2M edges),
# which takes the distributed path.
ORDERS = 2400
ITEMS_PER_ORDER = 7
PARTS = 400000


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def olhovivo_day(seed, out_dir):
    """Land one day of polls as one JSON document per minute under the
    reference's year=/month=/day=/hour= layout. Follows DayScale's fleet
    model: circular routes, 30-minute absence blocks (stale gaps),
    single-minute dropouts, rush-hour crawl windows, ~0.1% GPS teleports
    and a null-accessibility slice; each vehicle polls at its own second
    offset, so (vehicle, timestamp) is unique and the oracle replay of
    the lag window is exact. Returns the number of observations."""
    rng = _rng(seed, 1)
    v = np.arange(FLEET)
    n_lines = max(1, FLEET // 70)
    line = v % n_lines
    period = 30.0 + rng.integers(0, 60, FLEET)            # minutes per loop
    phase = rng.random(FLEET) * 2 * np.pi
    # residue classes, so every seed has crawlers (slow 07:00-09:00) and
    # null-accessibility vehicles
    crawler = v % 17 == rng.integers(0, 17)
    access = np.where(v % 101 == rng.integers(0, 101), -1,  # -1 = null
                      (rng.random(FLEET) < 1 / 3).astype(int))
    offset = rng.integers(0, 50, FLEET)
    m = FIRST_MINUTE + np.arange(MINUTES)
    present = rng.integers(0, 11, (FLEET, MINUTES // 30)).repeat(30, axis=1) != 0
    present &= rng.integers(0, 23, (FLEET, MINUTES)) != 0
    eff = np.where(crawler[:, None],
                   np.minimum(m, 420) + np.maximum(m - 540, 0)
                   + 0.1 * np.clip(m - 420, 0, 120), m[None, :])
    theta = 2 * np.pi * eff / period[:, None] + phase[:, None]
    lat0 = -23.55 + (line % 40) * 0.005
    lon0 = -46.63 + (line // 40) * 0.005
    glitch = np.where(rng.integers(0, 997, (FLEET, MINUTES)) == 0, 0.1, 0.0)
    py = lat0[:, None] + 0.02 * np.sin(theta) + glitch
    px = lon0[:, None] + 0.025 * np.cos(theta)

    acc_json = {-1: "null", 0: "false", 1: "true"}
    count = 0
    for i, minute in enumerate(m):
        hour, mm = divmod(int(minute), 60)
        lines = []
        for ln in range(n_lines):
            vs = []
            for vi in np.nonzero(present[:, i] & (line == ln))[0]:
                ts = DAY_START + int(minute) * 60 + int(offset[vi])
                hh, rem = divmod(ts - DAY_START, 3600)
                ta = f"{DAY}T{hh:02d}:{rem // 60:02d}:{rem % 60:02d}Z"
                vs.append(f'{{"p":"{vi}","a":{acc_json[int(access[vi])]},'
                          f'"ta":"{ta}","py":{py[vi, i]!r},'
                          f'"px":{px[vi, i]!r}}}')
            if vs:
                count += len(vs)
                lines.append(f'{{"c":"L{ln}","cl":{ln},"sl":{ln % 2 + 1},'
                             f'"lt0":"T{ln}-A","lt1":"T{ln}-B","vs":[{",".join(vs)}]}}')
        d = (f"{out_dir}/year=2026/month=08/day=10/hour={hour:02d}")
        os.makedirs(d, exist_ok=True)
        with open(f"{d}/data_{DAY}T{hour:02d}-{mm:02d}-00.json", "w") as f:
            f.write(f'{{"hr":"{hour:02d}:{mm:02d}","l":[{",".join(lines)}]}}')
    return count


def documents(seed, n_docs, out_path):
    """The `documents` table (doc_id, text, lang, source, n_chars) in the
    repository test data's schema and vocabulary. NEAR_DUP_RATE of the
    documents are near-duplicates: copies of an earlier document with
    one to three tokens replaced."""
    rng = _rng(seed, 2)
    texts = []
    for i in range(n_docs):
        if i > 8 and rng.random() < NEAR_DUP_RATE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(toks))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, out_path)
    return n_docs


def lineitem(seed, out_path):
    """A lineitem-shaped table: ORDERS orders of ITEMS_PER_ORDER distinct
    parts each, drawn from PARTS part keys."""
    rng = _rng(seed, 3)
    n = ORDERS * ITEMS_PER_ORDER
    parts = np.concatenate([rng.choice(PARTS, ITEMS_PER_ORDER, replace=False) + 1
                            for _ in range(ORDERS)])
    table = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(1, ORDERS + 1), ITEMS_PER_ORDER), pa.int64()),
        "l_partkey": pa.array(parts, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1001, n), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, ITEMS_PER_ORDER + 1), ORDERS), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.random(n) * 1e5, 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n).tolist(), pa.string()),
        "l_shipdate": pa.array((np.datetime64("1995-01-01")
                                + rng.integers(0, 2500, n).astype("timedelta64[D]"))
                               .astype("datetime64[us]"), pa.timestamp("us")),
    })
    pq.write_table(table, out_path)
    return n


def generate(workload, seed, out_dir):
    """Write the workload's inputs under out_dir; return their sizes."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "olhovivo_day":
        return {"observations": olhovivo_day(seed, f"{out_dir}/raw"),
                "vehicles": FLEET, "polls": MINUTES}
    if workload == "corpus_web":
        return {"documents": documents(seed, DOCS, f"{out_dir}/documents.parquet"),
                "lineitem": lineitem(seed, f"{out_dir}/lineitem.parquet")}
    raise ValueError(f"unknown workload {workload}")


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
