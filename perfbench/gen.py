"""Seeded input generator for the pipeline_deliveries workload.

Writes D deliveries into one directory. Delivery d holds:

- ``dNNN_docs.jsonl``: ``{"doc_id", "source", "text"}`` rows in new shards
  (sources ``dNNNsKK``). From delivery 2 on it also re-delivers shard
  ``s00`` of the previous delivery verbatim (the processed-shard manifest
  covers it), and a stated share of its new docs duplicate history: exact
  copies of an earlier delivery's text, and near copies with one word
  replaced (word 3-shingle Jaccard about 0.93).
- ``dNNN_bars.json``: daily OHLCV bars as a JSON array. Each delivery's date
  window overlaps the previous one by ``overlap`` days with revised prices.
  The indicators need 49 bars of history, so a delivery emits rows for its
  last ``bars - 49`` dates; with ``overlap > 49`` the emitted dates of
  consecutive deliveries overlap too, and an upsert keyed on date both
  inserts and updates.

``manifest.json`` lists the files, their row counts and bytes, and which
doc ids are exact or near copies of which earlier doc. The same seed and
sizes give byte-identical files.
"""
import datetime
import json
import os
import random

TIMED = dict(deliveries=2, docs=1000, shards=3, words=80, exact_rate=0.10, near_rate=0.10,
             bars=80, overlap=65)
WARM = dict(deliveries=2, docs=500, shards=3, words=80, exact_rate=0.10, near_rate=0.10,
            bars=80, overlap=65)

BAR_START = datetime.date(2020, 1, 1)


def _vocab(rng, n=5000):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _bars(rng, d, n, overlap):
    start = BAR_START + datetime.timedelta(days=(d - 1) * (n - overlap))
    price = 100.0 + 20.0 * rng.random()
    rows = []
    for i in range(n):
        o = round(price, 2)
        c = round(max(1.0, price * (1.0 + rng.gauss(0.0, 0.02))), 2)
        hi = round(max(o, c) + rng.random(), 2)
        lo = round(max(0.5, min(o, c) - rng.random()), 2)
        rows.append({"date": (start + datetime.timedelta(days=i)).isoformat(),
                     "open": o, "high": hi, "low": lo, "close": c,
                     "volume": float(rng.randint(1000, 100000))})
        price = c
    return rows


def generate(out_dir, seed, deliveries, docs, shards, words, exact_rate, near_rate, bars, overlap):
    rng = random.Random(seed)
    vocab = _vocab(rng)
    os.makedirs(out_dir, exist_ok=True)
    fresh = []          # (doc_id, text) of earlier deliveries' fresh docs
    prev_s00 = []       # rows of the previous delivery's shard s00
    manifest = {"seed": seed, "deliveries": [], "exact": {}, "near": {}}
    for d in range(1, deliveries + 1):
        n_exact = round(exact_rate * docs) if fresh else 0
        n_near = round(near_rate * docs) if fresh else 0
        bases = rng.sample(fresh, n_exact + n_near) if fresh else []
        rows, new_fresh = [], []
        for i in range(docs):
            doc_id = d * 1_000_000 + i
            source = f"d{d:03d}s{i % shards:02d}"
            if i < n_exact:
                base_id, text = bases[i]
                manifest["exact"][str(doc_id)] = base_id
            elif i < n_exact + n_near:
                base_id, base = bases[i]
                toks = base.split(" ")
                pos = rng.randrange(len(toks))
                toks[pos] = rng.choice([w for w in vocab[:50] if w != toks[pos]])
                text = " ".join(toks)
                manifest["near"][str(doc_id)] = base_id
            else:
                text = " ".join(rng.choice(vocab) for _ in range(words))
                new_fresh.append((doc_id, text))
            rows.append({"doc_id": doc_id, "source": source, "text": text})
        docs_rows = rows + prev_s00
        prev_s00 = [r for r in rows if r["source"].endswith("s00")]
        fresh += new_fresh
        docs_name, bars_name = f"d{d:03d}_docs.jsonl", f"d{d:03d}_bars.json"
        with open(os.path.join(out_dir, docs_name), "w") as f:
            f.writelines(json.dumps(r, sort_keys=True) + "\n" for r in docs_rows)
        bar_rows = _bars(rng, d, bars, overlap)
        with open(os.path.join(out_dir, bars_name), "w") as f:
            json.dump(bar_rows, f, indent=1)
        manifest["deliveries"].append({
            "docs": docs_name, "bars": bars_name,
            "doc_rows": len(docs_rows), "redelivered_rows": len(docs_rows) - docs,
            "bar_rows": len(bar_rows),
            "bytes": sum(os.path.getsize(os.path.join(out_dir, n)) for n in (docs_name, bars_name)),
        })
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
