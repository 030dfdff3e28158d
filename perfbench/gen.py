"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, sizes): the same seed writes the
same rows. Inputs land under `<cache>/<workload>-seed<seed>/` and are
reused while its manifest carries the same key (seed, sizes, generator
version), so generation never runs inside a timing window and runs once
per (seed, size).

Layout written (only what the workload reads):

  base/{lineitem,part,supplier}.parquet   sf0.1-shaped tables, the source
                                          of the Replay dims
  daily/orders/order_date=D/part-0.parquet       Hive-partitioned facts,
  daily/inventory/snapshot_date=D/part-0.parquet one partition per day
  daily/warmup.txt                        the warm-up days
  waves/eval/part-0.parquet               held-out eval docs
  waves/docs/wave=K/part-0.parquet        id-ordered corpus slices: wave 0
  waves/events/wave=K/part-0.parquet      is the prefix, waves 1..S equal
                                          slices after it
  manifest.json                           key, daily totals, wave sizes
"""
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Text model: a fifth of the words come from a small stopword list, the
# rest uniformly from a few thousand content words, so a word 3-shingle is
# rare across unrelated documents (decontamination and near-dup detection
# then act on planted overlap, not on chance).
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
             "on", "with", "as", "was", "at", "by", "this", "be", "from",
             "or", "an", "are", "not", "but", "have", "which", "we", "one",
             "all", "can"]
STOP_SHARE = 0.2
_SYL = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
CONTENT = sorted({a + b + c for a in _SYL[:40] for b in _SYL[40:80]
                  for c in ("", "n", "s", "r")})[:3000]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
STATUSES = ["PENDING", "CONFIRMED", "SHIPPED", "DELIVERED"]

# Bump when a generator changes what it writes for the same sizes.
VERSION = 6

# Workload sizes. Each workload's generated inputs are keyed by its size
# name, so changing a size invalidates exactly that workload's cache.
SIZES = {
    "base": dict(parts=20_000, suppliers=1_000, lineitems=600_000,
                 orders_keys=150_000, users=1_500),
    "daily_batch": dict(days=8, orders_per_day=200_000, products=20_000,
                        warehouses=3, zipf_s=1.0, max_qty=10,
                        first_day="2024-03-01", warmup_days=1),
    "incremental_waves": dict(docs=3_200, exact_dup_frac=0.10,
                              near_dup_frac=0.10, max_group=4,
                              contam_frac=0.02, prefix_docs=1_500,
                              prefix_events=20_000, slices=6,
                              slice_docs=250, slice_events=5_000),
}


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _texts(rng, n, lo=20, hi=120):
    lens = rng.integers(lo, hi + 1, n)
    total = int(lens.sum())
    stop = rng.random(total) < STOP_SHARE
    words = np.where(stop,
                     np.array(STOPWORDS, dtype=object)[
                         rng.integers(0, len(STOPWORDS), total)],
                     np.array(CONTENT, dtype=object)[
                         rng.integers(0, len(CONTENT), total)])
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos:pos + k]))
        pos += k
    return out


def base_tables(seed, out):
    """sf0.1-shaped lineitem/part/supplier. The Replay dims read a few
    columns; the others keep the TPC-H shape the parity queries read."""
    s = SIZES["base"]
    r = _rng(seed, 1)
    nparts = s["parts"]
    adjs = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    nouns = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "wire"]
    types = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(nparts, dtype=np.int64)),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in zip(
            r.integers(0, 8, nparts), r.integers(0, 8, nparts))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, nparts)]),
        "p_type": pa.array([types[t] for t in r.integers(0, 6, nparts)]),
        "p_size": pa.array(r.integers(1, 51, nparts).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(1 + (np.arange(nparts) % 900) * 0.01, 2)),
    })
    _write(part, f"{out}/part.parquet")

    nsup = s["suppliers"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(nsup, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(nsup)]),
        "s_nationkey": pa.array(r.integers(0, 25, nsup).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, nsup), 2)),
    })
    _write(supplier, f"{out}/supplier.parquet")

    n = s["lineitems"]
    qty = r.integers(1, 51, n).astype(np.float64)
    partkey = r.integers(0, nparts, n)
    flags = np.array(["A", "N", "R"])[r.integers(0, 3, n)]
    status = np.array(["O", "F"])[r.integers(0, 2, n)]
    day0 = np.datetime64("1995-01-02")
    ship = day0 + r.integers(0, 2498, n).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, s["orders_keys"], n)),
        "l_partkey": pa.array(partkey),
        # four suppliers per part, as TPC-H's partsupp, of four distinct
        # priorities (suppkey % 5): the rank-1 supplier of every part is
        # unique, so the reference's (priority, unit_cost) ranking has one
        # answer
        "l_suppkey": pa.array((partkey + 201 * r.integers(0, 4, n)) % nsup),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        # unit prices 1.00-9.99: a day's top product (Zipf head) times its
        # unit cost stays inside the pipeline's DECIMAL(10,2) money type
        "l_extendedprice": pa.array(np.round(
            qty * (1 + (partkey % 900) * 0.01) * r.uniform(0.9, 1.1, n), 2)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(flags),
        "l_linestatus": pa.array(status),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    _write(lineitem, f"{out}/lineitem.parquet")


def documents_table(rng, n, ids=None, texts=None):
    ids = np.arange(n, dtype=np.int64) if ids is None else ids
    texts = _texts(rng, n) if texts is None else texts
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def events_table(rng, n, users):
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, users, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def planted_corpus(rng, n, exact_frac, near_frac, max_group, contam_frac):
    """`n` documents where `exact_frac` of them are verbatim copies and
    `near_frac` word-edited copies of earlier originals. Copies get ids
    after their original, so id order is arrival order. `contam_frac` of
    the corpus (ids not divisible by 17, the held-out eval modulus) gets an
    8-word passage of an eval document spliced in."""
    n_exact = int(n * exact_frac)
    n_near = int(n * near_frac)
    n_orig = n - n_exact - n_near
    texts = _texts(rng, n_orig)
    # (source index, kind) for each copy; a group has 1..max_group-1 copies
    copies = []
    for kind, budget in (("exact", n_exact), ("near", n_near)):
        while budget > 0:
            src = int(rng.integers(0, n_orig))
            k = int(min(budget, rng.integers(1, max_group)))
            copies += [(src, kind)] * k
            budget -= k
    order = rng.permutation(len(copies))
    # interleave: each copy lands at a random position after its original
    slots = [[t] for t in range(n_orig)]
    for c in order:
        src, kind = copies[c]
        at = int(rng.integers(src, n_orig))
        slots[at].append(("copy", src, kind))
    all_texts = []
    for slot in slots:
        for item in slot:
            if isinstance(item, tuple):
                _, src, kind = item
                words = texts[src].split(" ")
                if kind == "near":
                    # a few word edits: substitutions keep Jaccard high
                    for _ in range(int(rng.integers(1, 3))):
                        words[int(rng.integers(0, len(words)))] = CONTENT[
                            int(rng.integers(0, len(CONTENT)))]
                all_texts.append(" ".join(words))
            else:
                all_texts.append(texts[item])
    ids = np.arange(len(all_texts), dtype=np.int64)
    evals = ids[ids % 17 == 0]
    corpus = ids[ids % 17 != 0]
    for d in rng.choice(corpus, int(len(corpus) * contam_frac), replace=False):
        src = all_texts[int(rng.choice(evals))].split(" ")
        at = int(rng.integers(0, max(1, len(src) - 8)))
        words = all_texts[d].split(" ")
        cut = int(rng.integers(0, len(words)))
        all_texts[d] = " ".join(words[:cut] + src[at:at + 8] + words[cut:])
    return documents_table(rng, len(all_texts), ids, all_texts)


def _day(r, s, d, per_day, cdf, perm, out):
    """One day of orders (Zipf products) and inventory snapshots."""
    nprod = s["products"]
    rank = np.minimum(np.searchsorted(cdf, r.random(per_day)), nprod - 1)
    prod = perm[rank].astype(np.int32)
    qty = r.integers(1, s["max_qty"] + 1, per_day).astype(np.int32)
    prefix = int(d.strftime("%Y%m%d")) * 100_000
    orders = pa.table({
        "order_id": pa.array(prefix + np.arange(per_day, dtype=np.int64)),
        "product_id": pa.array(prod),
        "quantity": pa.array(qty),
        "status": pa.array(np.array(STATUSES)[r.integers(0, 4, per_day)]),
    })
    _write(orders, f"{out}/orders/order_date={d}/part-0.parquet")
    # one snapshot per (product, warehouse); product % 7 == 3 has none
    # (drives the missing-inventory exception and the safety fallback)
    pid = np.tile(np.arange(nprod, dtype=np.int32), s["warehouses"])
    wh = np.repeat(np.arange(1, s["warehouses"] + 1, dtype=np.int32), nprod)
    keep = pid % 7 != 3
    m = int(keep.sum())
    inventory = pa.table({
        "product_id": pa.array(pid[keep]),
        "available_qty": pa.array(r.integers(50, 501, m).astype(np.int32)),
        "reserved_qty": pa.array(r.integers(0, 51, m).astype(np.int32)),
        "safety_stock": pa.array(r.integers(20, 101, m).astype(np.int32)),
        "warehouse_id": pa.array(wh[keep]),
    })
    _write(inventory, f"{out}/inventory/snapshot_date={d}/part-0.parquet")
    return {"orders": per_day, "quantity": int(qty.sum()),
            "products": int(np.unique(prod).size)}


def daily_tables(seed, out):
    """`days` timed days from `first_day`, preceded by `warmup_days` days of
    the same size (listed in warmup.txt) that warm the JIT and the session
    up."""
    s = SIZES["daily_batch"]
    r = _rng(seed, 10)
    # finite Zipf popularity over a seeded product permutation
    w = 1.0 / np.arange(1, s["products"] + 1) ** s["zipf_s"]
    cdf = np.cumsum(w / w.sum())
    perm = r.permutation(s["products"])
    first = dt.date.fromisoformat(s["first_day"])
    warm = [first - dt.timedelta(days=k)
            for k in range(s["warmup_days"], 0, -1)]
    for d in warm:
        _day(r, s, d, s["orders_per_day"], cdf, perm, out)
    with open(f"{out}/warmup.txt", "w") as f:
        f.write("".join(f"{d}\n" for d in warm))
    totals = {}
    for k in range(s["days"]):
        d = first + dt.timedelta(days=k)
        totals[str(d)] = _day(r, s, d, s["orders_per_day"], cdf, perm, out)
    return {"days": sorted(totals), "totals": totals}


def wave_tables(seed, out):
    """Wave 0, the prefix the set-up streams in, then `slices` equal slices
    of documents and events that follow it in id order. Every timed op
    streams one slice onto the same prefix state, so ops are equal work."""
    s = SIZES["incremental_waves"]
    table = planted_corpus(_rng(seed, 30), s["docs"],
                                   s["exact_dup_frac"], s["near_dup_frac"],
                                   s["max_group"], s["contam_frac"])
    # held-out eval docs (doc_id % 17 == 0, CurationPipeline's default
    # modulus) are the decontamination reference; waves carry the rest
    ids = table["doc_id"].to_numpy()
    _write(table.filter(pa.array(ids % 17 == 0)), f"{out}/eval/part-0.parquet")
    corpus = table.filter(pa.array(ids % 17 != 0))
    nd, ne = s["slice_docs"], s["slice_events"]
    need = s["prefix_docs"] + s["slices"] * nd
    assert corpus.num_rows >= need, "too few documents for the slices"
    events = events_table(_rng(seed, 31),
                          s["prefix_events"] + s["slices"] * ne,
                          SIZES["base"]["users"])
    cuts = [0] + [s["prefix_docs"] + k * nd for k in range(s["slices"] + 1)]
    ev_cuts = [0] + [s["prefix_events"] + k * ne
                     for k in range(s["slices"] + 1)]
    for k in range(s["slices"] + 1):
        _write(corpus.slice(cuts[k], cuts[k + 1] - cuts[k]),
               f"{out}/docs/wave={k}/part-0.parquet")
        _write(events.slice(ev_cuts[k], ev_cuts[k + 1] - ev_cuts[k]),
               f"{out}/events/wave={k}/part-0.parquet")
    return {"docs": need, "events": events.num_rows,
            "slices": s["slices"]}


def generate(workload, seed, cache):
    """Generate (or reuse) the inputs of `workload` for `seed`; returns
    the input directory and its manifest."""
    key = {"workload": workload, "seed": seed, "version": VERSION,
           "sizes": {"base": SIZES["base"], workload: SIZES.get(workload)}}
    tag = f"{workload}-seed{seed}"
    out = os.path.join(cache, tag)
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("key") == key:
            return out, manifest
    shutil.rmtree(out, ignore_errors=True)
    manifest = {"key": key}
    if workload == "daily_batch":
        base_tables(seed, os.path.join(out, "base"))
        manifest["daily"] = daily_tables(seed, os.path.join(out, "daily"))
    elif workload == "incremental_waves":
        manifest["waves"] = wave_tables(seed, os.path.join(out, "waves"))
    with open(mpath + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(mpath + ".tmp", mpath)
    return out, manifest
