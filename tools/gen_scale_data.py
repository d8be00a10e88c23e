"""Generate a builder-local sf1 dataset for SCALING evidence (r11 verdict
item 5).

The driver's testdata generator is not available to the builder and
/root/testdata is read-only, so this tool synthesizes ONLY the two
tables the five heaviest bench entries read (x00/t15/d23 → documents,
e26 → events; x01 is range-based), with schema identical to the
shipped tables and distributions matched empirically to sf0.1
(TESTDATA.md profile, measured 2026-08-18):

* documents — 31-word vocabulary, n_chars 44..577 (8..100 words), langs
  {en 41%, zh/es/fr/de ~15%}, 20 sources; ~5% of docs are near-copies
  (1-3 word edits) of an earlier doc and ~0.2% exact copies, so the LSH
  candidate-pair density stays LINEAR in corpus size like the shipped
  data (cloning whole corpora would square it).
* events — 30 days of uniform arrivals, 5 uniform event types, user
  count scaled with rows (sf0.1: 1500 users / 100k events),
  value ~ |exp(mean 50)| capped, props = {"k": 0..99}.

Deterministic (seed fixed per scale). NOT oracle-comparable to any
driver artifact — it exists to measure 8c/32c scaling ratios and to
spot-check Spark-vs-DuckDB oracle parity at a 10x corpus (both engines
read the same files, so parity is meaningful on any corpus).

Usage::

    python tools/gen_scale_data.py /tmp/floorist_sf1 10
    # -> documents.parquet (50k docs), events.parquet (1M rows)
"""

from __future__ import annotations

import os
import random
import sys

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
N_SOURCES = 20
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
BASE_US = 1704067200000000  # 2024-01-01 UTC
SPAN_US = 30 * 86400 * 1_000_000


def gen_documents(n_docs: int, rng: random.Random) -> dict:
    doc_ids, texts, langs, sources, n_chars = [], [], [], [], []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact dup
            text = texts[rng.randrange(i)]
        elif i > 10 and r < 0.05:  # near dup: 1-3 word edits
            base = texts[rng.randrange(i)].split(" ")
            for _ in range(rng.randint(1, 3)):
                base[rng.randrange(len(base))] = rng.choice(VOCAB)
            text = " ".join(base)
        else:
            n_words = rng.randint(8, 100)
            text = " ".join(rng.choice(VOCAB) for _ in range(n_words))
        doc_ids.append(i)
        texts.append(text)
        langs.append(rng.choice(LANGS))
        sources.append(f"src{rng.randrange(N_SOURCES)}")
        n_chars.append(len(text))
    return {
        "doc_id": doc_ids,
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": n_chars,
    }


def gen_events(n_events: int, n_users: int, rng: random.Random) -> dict:
    import pyarrow as pa

    ts = sorted(BASE_US + rng.randrange(SPAN_US) for _ in range(n_events))
    return {
        "event_id": list(range(n_events)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": [rng.randrange(n_users) for _ in range(n_events)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [
            round(min(rng.expovariate(1 / 50.0), 600.0), 2)
            for _ in range(n_events)
        ],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    }


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = sys.argv[1]
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10  # x sf0.1
    os.makedirs(out_dir, exist_ok=True)

    rng = random.Random(120_000 + mult)
    docs = gen_documents(5000 * mult, rng)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(docs["doc_id"], type=pa.int64()),
                "text": pa.array(docs["text"], type=pa.string()),
                "lang": pa.array(docs["lang"], type=pa.string()),
                "source": pa.array(docs["source"], type=pa.string()),
                "n_chars": pa.array(docs["n_chars"], type=pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    ev = gen_events(100_000 * mult, 1500 * mult, rng)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ev["event_id"], type=pa.int64()),
                "ts": ev["ts"],
                "user_id": pa.array(ev["user_id"], type=pa.int64()),
                "event_type": pa.array(ev["event_type"], type=pa.string()),
                "value": pa.array(ev["value"], type=pa.float64()),
                "props": pa.array(ev["props"], type=pa.string()),
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    print(f"wrote {out_dir}: {5000 * mult} docs, {100_000 * mult} events")
    return 0


if __name__ == "__main__":
    sys.exit(main())
