"""Seeded input generator for the perfbench workloads.

Two input sets, both a pure function of the seed (same seed, same bytes):

* ``nyc``: a TLC-2023-shaped year of green and yellow monthly trip files,
  ``<out>/green/2023-MM.parquet`` and ``<out>/yellow/2023-MM.parquet``, with
  the traits the pipeline exists to handle (FIXTURES.md section 1 and
  ``NycPipeline.conformTypes``): January ships wider column types than
  February to December, green carries an all-null ``ehail_fee`` column, and
  every month plants exact duplicates, null timestamps, pickups outside the
  file's month and outside 2023, the sentinel key 0, and vendor, payment and
  rate keys outside the seeded dimensions.
* ``corpus``: ``documents.parquet`` and ``embeddings.parquet`` shaped like
  the sf0.1 test corpus (word sequences over a small vocabulary; clustered
  64-dim vectors), with planted exact duplicates, near duplicates, excerpts
  and identical vector twins.

Next to the data each set writes ``expected.json``: the values the output
checks compare against. For ``nyc`` they follow from the generated rows with
the pipeline's documented semantics (full-row dedup, null-timestamp drop,
2023 calendar prune, sentinel-0 and seed-key exclusion in the dimension
upserts). For ``corpus`` they are the planted structure plus brute-force
ground truth over all pairs (exact shingle Jaccard, exact n-gram
containment, exact cosine), which bounds each query's output from both
sides.

Run ``python3 gen.py nyc|corpus <seed> <out_dir>`` to write one set.
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = [f"2023-{m:02d}" for m in range(1, 13)]

# Rows per file month before the planted duplicates: about 174k rows a year,
# 3.6% of the TLC year, sized to the time a benchmark run has (README.md,
# "Sizes"). Yellow outnumbers green as in the TLC year.
GREEN_ROWS = 4800
YELLOW_ROWS = 9600

SEED_VENDORS = {1, 2}
SEED_PAYMENTS = {1, 2, 3, 4, 5, 6}
SEED_RATES = {1, 2, 3, 4, 5, 6}

US_PER_S = 1_000_000


def _rng(seed, *stream):
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def _choice(rng, n, values, weights):
    w = np.asarray(weights, dtype=float)
    return rng.choice(np.asarray(values), size=n, p=w / w.sum())


# ---------------------------------------------------------------- nyc


def _month_start_us(month):
    return np.datetime64(f"{month}-01T00:00:00", "us").astype(np.int64)


def _trips(seed, taxi, month_idx):
    """One file month as a dict of numpy columns plus null masks.

    Money columns are whole cents (int64); they become 2-decimal doubles on
    write, so exact-cent sums can be checked."""
    month = MONTHS[month_idx]
    rng = _rng(seed, 0 if taxi == "green" else 1, month_idx)
    n = GREEN_ROWS if taxi == "green" else YELLOW_ROWS
    start = _month_start_us(month)
    end = (np.datetime64(MONTHS[month_idx + 1] + "-01T00:00:00", "us").astype(np.int64)
           if month_idx < 11 else np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    pickup = start + rng.integers(0, (end - start) // US_PER_S, n) * US_PER_S
    # pickups outside the file's month: the day before it or the day after
    # (December's "after" and January's "before" also leave 2023)
    spill = rng.random(n) < 0.01
    before = rng.random(n) < 0.5
    day = 86_400 * US_PER_S
    pickup = np.where(spill & before, start - day + rng.integers(0, 86_400, n) * US_PER_S, pickup)
    pickup = np.where(spill & ~before, end + rng.integers(0, 86_400, n) * US_PER_S, pickup)
    # TLC files carry a few trips stamped years away
    stray = rng.random(n) < 0.002
    stray_base = np.datetime64("2008-12-31T00:00:00", "us").astype(np.int64)
    pickup = np.where(stray, stray_base + rng.integers(0, 86_400, n) * US_PER_S, pickup)
    duration_s = np.clip(rng.lognormal(6.6, 0.7, n), 30, 4 * 3600).astype(np.int64)
    dropoff = pickup + duration_s * US_PER_S

    if taxi == "green":
        vendor = _choice(rng, n, [1, 2, 0], [20, 79, 1])
        payment = _choice(rng, n, [1, 2, 3, 4, 5, 0], [58, 36, 2, 1, 1, 2])
    else:
        # vendor 6 (the TLC's third yellow vendor) is not in the seeded dim
        vendor = _choice(rng, n, [1, 2, 6, 0], [25, 72, 2, 1])
        payment = _choice(rng, n, [1, 2, 3, 4, 0, 7], [70, 22, 2, 2, 3, 1])
    rate = _choice(rng, n, [1, 2, 3, 4, 5, 6, 99], [88, 4, 1, 1, 3, 1, 2])
    passengers = _choice(rng, n, [0, 1, 2, 3, 4, 5, 6], [2, 70, 14, 5, 3, 3, 3])
    pu = rng.integers(1, 266, n)
    do = rng.integers(1, 266, n)
    distance_c = (rng.exponential(2.8, n) * 100).astype(np.int64)
    fare = 300 + (distance_c * 25) // 10 + rng.integers(0, 300, n)
    fare = np.where(rng.random(n) < 0.005, -fare, fare)  # refunds
    extra = _choice(rng, n, [0, 50, 100, 250], [50, 30, 15, 5])
    mta = np.full(n, 50)
    tip = np.where(payment == 1, (fare * rng.integers(0, 30, n)) // 100, 0)
    tolls = np.where(rng.random(n) < 0.05, 655, 0)
    improvement = np.full(n, 100)
    congestion = _choice(rng, n, [0, 275], [40, 60])
    airport = np.where(rng.random(n) < 0.08, 125, 0)
    total = fare + extra + mta + tip + tolls + improvement + congestion
    if taxi == "yellow":
        total = total + airport
    flag = _choice(rng, n, ["N", "Y"], [99, 1])
    trip_type = _choice(rng, n, [1, 2], [97, 3])

    # nulls as the TLC ships them: passenger_count, RatecodeID, payment
    # surcharges and the flag go null together on some rows
    meta_null = rng.random(n) < 0.03
    cols = {
        "VendorID": (vendor, None),
        "pickup": (pickup, rng.random(n) < 0.003),
        "dropoff": (dropoff, rng.random(n) < 0.003),
        "store_and_fwd_flag": (flag, meta_null),
        "RatecodeID": (rate, meta_null),
        "PULocationID": (pu, None),
        "DOLocationID": (do, None),
        "passenger_count": (passengers, meta_null),
        "trip_distance": (distance_c, None),
        "fare_amount": (fare, None),
        "extra": (extra, None),
        "mta_tax": (mta, None),
        "tip_amount": (tip, None),
        "tolls_amount": (tolls, None),
        "improvement_surcharge": (improvement, None),
        "total_amount": (total, None),
        "payment_type": (payment, meta_null if taxi == "yellow" else None),
        "congestion_surcharge": (congestion, meta_null),
    }
    if taxi == "green":
        cols["trip_type"] = (trip_type, meta_null)
    else:
        cols["airport_fee"] = (airport, meta_null)
    # exact duplicate rows, then a seeded shuffle
    dup = np.flatnonzero(rng.random(n) < 0.01)
    order = rng.permutation(n + len(dup))
    out = {}
    for name, (vals, mask) in cols.items():
        v = np.concatenate([vals, vals[dup]])[order]
        m = None if mask is None else np.concatenate([mask, mask[dup]])[order]
        out[name] = (v, m)
    return out


CENTS = {"trip_distance", "fare_amount", "extra", "mta_tax", "tip_amount",
         "tolls_amount", "improvement_surcharge", "total_amount",
         "congestion_surcharge", "airport_fee"}


def _nyc_table(taxi, month_idx, cols):
    """The file month with TLC physical types: January wide, later narrow."""
    jan = month_idx == 0
    key_t = pa.int64() if jan else pa.int32()
    code_t = pa.float64() if jan else pa.int64()
    prefix = "lpep" if taxi == "green" else "tpep"
    types = {
        "VendorID": key_t, "PULocationID": key_t, "DOLocationID": key_t,
        "RatecodeID": code_t, "passenger_count": code_t,
        "payment_type": code_t if taxi == "green" else pa.int64(),
        "trip_type": code_t, "store_and_fwd_flag": pa.string(),
        "pickup": pa.timestamp("us"), "dropoff": pa.timestamp("us"),
    }
    if taxi == "green":
        order = ["VendorID", "pickup", "dropoff", "store_and_fwd_flag",
                 "RatecodeID", "PULocationID", "DOLocationID",
                 "passenger_count", "trip_distance", "fare_amount", "extra",
                 "mta_tax", "tip_amount", "tolls_amount", "ehail_fee",
                 "improvement_surcharge", "total_amount", "payment_type",
                 "trip_type", "congestion_surcharge"]
    else:
        order = ["VendorID", "pickup", "dropoff", "passenger_count",
                 "trip_distance", "RatecodeID", "store_and_fwd_flag",
                 "PULocationID", "DOLocationID", "payment_type",
                 "fare_amount", "extra", "mta_tax", "tip_amount",
                 "tolls_amount", "improvement_surcharge", "total_amount",
                 "congestion_surcharge", "airport_fee"]
    n = len(cols["VendorID"][0])
    arrays, names = [], []
    for name in order:
        out_name = f"{prefix}_{name}_datetime" if name in ("pickup", "dropoff") else name
        if name == "ehail_fee":
            arrays.append(pa.nulls(n, pa.null()))
        else:
            vals, mask = cols[name]
            if name in CENTS:
                arr = pa.array(vals / 100.0, type=pa.float64(), mask=mask)
            elif name in ("pickup", "dropoff"):
                arr = pa.array(vals, type=pa.int64(), mask=mask).cast(pa.timestamp("us"))
            else:
                arr = pa.array(vals, mask=mask).cast(types[name])
            arrays.append(arr)
        names.append(out_name)
    return pa.Table.from_arrays(arrays, names=names)


def _silver(taxi, cols):
    """The month's silver rows as numpy columns: the cleanse's dedup runs over
    the columns it keeps (green drops ehail_fee, store_and_fwd_flag and
    trip_type first, yellow drops store_and_fwd_flag), then rows with a null
    timestamp go; null codes become the sentinel 0."""
    keep = [k for k in cols if k not in ("store_and_fwd_flag", "trip_type")]
    n = len(cols["VendorID"][0])
    mat = np.empty((n, 2 * len(keep)), dtype=np.int64)
    for i, k in enumerate(keep):
        vals, mask = cols[k]
        m = np.zeros(n, dtype=bool) if mask is None else mask
        mat[:, 2 * i] = np.where(m, 0, vals)
        mat[:, 2 * i + 1] = m
    _, first = np.unique(mat, axis=0, return_index=True)
    rows = np.sort(first)
    pu_null = cols["pickup"][1][rows]
    do_null = cols["dropoff"][1][rows]
    rows = rows[~(pu_null | do_null)]

    def col(k):
        vals, mask = cols[k]
        return np.where(mask[rows], 0, vals[rows]) if mask is not None else vals[rows]

    return {
        "pickup": col("pickup"), "dropoff": col("dropoff"),
        "VendorID": col("VendorID"), "payment_type": col("payment_type"),
        "RatecodeID": col("RatecodeID"), "total_amount": col("total_amount"),
    }


def _in_2023(ts_us):
    lo = np.datetime64("2023-01-01T00:00:00", "us").astype(np.int64)
    hi = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    return (ts_us >= lo) & (ts_us < hi)


def _novel(keys, seeded):
    return {int(k) for k in np.unique(keys)} - seeded - {0}


def _concat(parts, key):
    return np.concatenate([p[key] for p in parts]) if parts else np.zeros(0, np.int64)


def nyc(seed, out):
    expected = {"months": MONTHS, "rows_in": 0, "bronze_green": 0,
                "bronze_yellow": 0, "silver": {}, "fact": {}, "fact_cents": {}}
    silver_by_month = {}
    for taxi in ("green", "yellow"):
        os.makedirs(os.path.join(out, taxi), exist_ok=True)
    for mi, month in enumerate(MONTHS):
        parts = []
        for taxi in ("green", "yellow"):
            cols = _trips(seed, taxi, mi)
            table = _nyc_table(taxi, mi, cols)
            pq.write_table(table, os.path.join(out, taxi, f"{month}.parquet"))
            expected["bronze_" + taxi] += table.num_rows
            expected["rows_in"] += table.num_rows
            parts.append(_silver(taxi, cols))
        silver = {k: _concat(parts, k) for k in parts[0]}
        silver_by_month[month] = silver
        in_cal = _in_2023(silver["pickup"]) & _in_2023(silver["dropoff"])
        expected["silver"][month] = int(len(silver["pickup"]))
        expected["fact"][month] = int(in_cal.sum())
        expected["fact_cents"][month] = int(silver["total_amount"][in_cal].sum())

    sil = list(silver_by_month.values())
    expected["silver_trips"] = sum(expected["silver"].values())
    expected["fact_nyc"] = sum(expected["fact"].values())
    expected["fact_nyc_cents"] = sum(expected["fact_cents"].values())
    expected["dims"] = {
        "dim_vendor": len(SEED_VENDORS) + len(_novel(_concat(sil, "VendorID"), SEED_VENDORS)),
        "dim_payment": len(SEED_PAYMENTS) + len(_novel(_concat(sil, "payment_type"), SEED_PAYMENTS)),
        "dim_rate": len(SEED_RATES) + len(_novel(_concat(sil, "RatecodeID"), SEED_RATES)),
        "dim_type": 2, "dim_date": 365,
    }

    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


# ------------------------------------------------------------- corpus

N_DOCS = 400
N_VECS = 400
DIM = 64
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark window order data column join small big line customer query "
         "filter sort group stream index shard cache page plan node tree join "
         "rank skew spill").split()
INGEST_SLICES = 4  # held-out 10% slices; the rest (60%) seeds the corpus


def corpus(seed, out):
    rng = _rng(seed, 2)
    os.makedirs(out, exist_ok=True)
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 90))))
             for _ in range(N_DOCS)]
    ids = list(range(N_DOCS))
    free = rng.permutation(np.arange(50, N_DOCS)).tolist()

    def take_free():
        return int(free.pop())

    # excerpts: a word-aligned contiguous piece of a longer host, so every
    # char 5-gram of the excerpt is in the host (containment 1); ten get ids
    # below 50, the inner side of q207
    excerpts = []
    low_ids = rng.permutation(np.arange(0, 50))[:10].tolist()
    for i in range(30):
        host = take_free()
        words = texts[host].split()
        if len(words) < 40:
            words = words + rng.choice(VOCAB, size=40).tolist()
            texts[host] = " ".join(words)
        length = int(rng.integers(len(words) // 3, len(words) // 2))
        start = int(rng.integers(0, len(words) - length))
        ex = low_ids[i] if i < len(low_ids) else take_free()
        texts[ex] = " ".join(words[start:start + length])
        excerpts.append([ex, host])
    # exact duplicates: a copy under a larger id
    dups = []
    for _ in range(30):
        a, b = sorted((take_free(), take_free()))
        texts[b] = texts[a]
        dups.append([a, b])
    # near duplicates: one word changed in a long document
    near = []
    for _ in range(30):
        a, b = sorted((take_free(), take_free()))
        words = texts[a].split()
        while len(words) < 60:
            words += rng.choice(VOCAB, size=10).tolist()
        texts[a] = " ".join(words)
        pos = int(rng.integers(0, len(words)))
        words = list(words)
        words[pos] = "zebra" if words[pos] != "zebra" else "yak"
        texts[b] = " ".join(words)
        near.append([a, b])

    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_choice(rng, N_DOCS, ["en", "de", "fr"], [90, 5, 5]).tolist()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 5, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    centers = rng.normal(0, 1, (16, DIM))
    labels = rng.integers(0, 16, N_VECS)
    vecs = (centers[labels] + rng.normal(0, 1.2, (N_VECS, DIM))).astype(np.float32)
    twins = []
    vfree = rng.permutation(N_VECS).tolist()
    for _ in range(20):
        a, b = sorted((int(vfree.pop()), int(vfree.pop())))
        vecs[b] = vecs[a]
        twins.append([a, b])
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))

    # ingest: the seed permutes which tenth of the ids goes to which slice;
    # six tenths seed the corpus
    tenth = rng.permutation(N_DOCS) % 10
    slices = [[int(i) for i in np.flatnonzero(tenth == 6 + s)] for s in range(INGEST_SLICES)]
    base = [int(i) for i in np.flatnonzero(tenth < 6)]

    def distinct(id_sets):
        return len({texts[i] for i in id_sets})

    seen = list(base)
    corpus_after = []
    for s in slices:
        seen += s
        corpus_after.append(distinct(seen))
    expected = {
        "documents": N_DOCS, "embeddings": N_VECS,
        "excerpts": excerpts, "duplicates": dups, "near_duplicates": near,
        "twins": twins,
        "ingest": {"base_ids": base, "slices": slices,
                   "corpus_after_build": distinct(base),
                   "corpus_after_tick": corpus_after},
    }
    expected.update(_truth(texts, vecs))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected


def _incidence(sets):
    """Doc-by-element 0/1 matrix (float32: the counts in its products stay
    exact) and the set sizes."""
    index = {}
    rows, cols = [], []
    for d, s in enumerate(sets):
        for e in s:
            rows.append(d)
            cols.append(index.setdefault(e, len(index)))
    m = np.zeros((len(sets), len(index)), np.float32)
    m[rows, cols] = 1
    return m, m.sum(axis=1)


def _truth(texts, vecs):
    """Brute-force answers over all pairs, in the queries' own terms:
    distinct word 3-shingles (q20), distinct char 5-grams of the
    lower-cased, whitespace-collapsed text (q207-q209), cosine (q58)."""
    # q20: every pair with shingle Jaccard >= 0.3; the query reports a
    # subset (LSH candidates), each with its exact Jaccard
    words = [t.split() for t in texts]
    m, sz = _incidence([{" ".join(w[i:i + 3]) for i in range(len(w) - 2)} for w in words])
    inter = m @ m.T
    union = sz[:, None] + sz[None, :] - inter
    a, b = np.nonzero(np.triu(inter >= 0.29 * union, 1))
    jaccard = [[int(i), int(j), float(inter[i, j]) / float(union[i, j])] for i, j in zip(a, b)]
    jaccard = [p for p in jaccard if p[2] >= 0.3]
    # q207-q209: directed containment |A & B| / |A| of char 5-grams
    grams = []
    for t in texts:
        t = " ".join(t.lower().split())
        grams.append({t[i:i + 5] for i in range(len(t) - 4)} if len(t) >= 5 else {t})
    m, sz = _incidence(grams)
    ovl = m @ m.T
    np.fill_diagonal(ovl, 0)
    lo = np.flatnonzero(np.arange(len(texts)) < 50)
    i45, j45 = np.nonzero(ovl[lo] * 5 >= 4 * sz[lo, None])
    i35, j35 = np.nonzero(ovl * 5 >= 3 * sz[:, None])
    # a doc contained in a larger one (or an equal-sized one with a smaller
    # id) is scrubbed by q209; every other doc must survive
    losers = {int(i) for i, j in zip(i35, j35)
              if sz[i] < sz[j] or (sz[i] == sz[j] and i > j)}
    # q58 drops the larger id of a pair with cosine >= 0.3; a vector with no
    # smaller-id neighbour within a float margin of it must survive
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    cos = np.tril(unit @ unit.T, -1)
    return {
        "q20_pairs": jaccard,
        "q207_pairs": [[int(lo[i]), int(j)] for i, j in zip(i45, j45)],
        "q208_pairs": [[int(i), int(j)] for i, j in zip(i35, j35)],
        "q209_keep": sorted(set(range(len(texts))) - losers),
        "q58_keep": [int(i) for i in np.flatnonzero((cos >= 0.3 - 1e-4).sum(axis=1) == 0)],
    }


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    {"nyc": nyc, "corpus": corpus}[kind](seed, out)
