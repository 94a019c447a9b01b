"""Seeded input generators for the benchmark.

Two input families, both pure functions of the seed:

* ``write_tables`` — the warehouse tables the registered queries read
  (``catalog.TABLES``), with the parquet types and value domains
  of the repository's test data at scale factor 0.1.
* ``write_raw_ads`` — raw ad-group JSON files for the ads pipeline,
  plus the expected pipeline results computed here in plain Python.

Only the values depend on the seed; row counts, file counts and the
shares of duplicates, nulls and invalid rows are fixed, so every seed
gives the engine the same amount of work.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the test data at scale factor 0.1.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.15, 0.4, 0.15, 0.15, 0.15]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days_us(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.06:
            # near duplicate: an earlier document with one word changed
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = _DOC_WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(words) + " dup")
            continue
        k = int(rng.integers(8, 100))
        texts.append(" ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, _LANGS, n, _LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    # Strictly increasing timestamps over 30 days: (user_id, ts) pairs are
    # unique and every event_id has exactly one event_type, which the
    # streaming oracles rely on.
    start = np.datetime64("2024-01-01", "us").astype("int64")
    gaps = rng.integers(1, 2 * 30 * _DAY_US // n, n)
    ts = start + np.cumsum(gaps)
    types = _pick(rng, _EVENT_TYPES, n)
    types[0], types[1] = "view", "purchase"
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _region(rng: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )


def _nation(rng: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng: np.random.Generator) -> pa.Table:
    n = ROWS["customer"]
    return pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n)),
        }
    )


def _supplier(rng: np.random.Generator) -> pa.Table:
    n = ROWS["supplier"]
    return pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )


def _part(rng: np.random.Generator) -> pa.Table:
    n = ROWS["part"]
    return pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": pa.array(
                [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": pa.array(_pick(rng, _PART_TYPES, n)),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array([900.0 + (i % 1000) / 10 for i in range(n)]),
        }
    )


def _orders(rng: np.random.Generator) -> pa.Table:
    n = ROWS["orders"]
    return pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(
                _days_us(rng, "1995-01-01", "2001-08-01", n), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n)),
        }
    )


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = ROWS["lineitem"]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100),
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n)),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], n)),
            "l_shipdate": pa.array(
                _days_us(rng, "1995-01-02", "2001-11-04", n), pa.timestamp("us")
            ),
        }
    )


# Generator of each catalog table; each table draws from its own stream
# of the seed, so a table's values do not depend on which others are made.
TABLE_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": lambda rng: _events(rng, ROWS["events"]),
    "documents": lambda rng: _documents(rng, ROWS["documents"]),
    "embeddings": lambda rng: _embeddings(rng, ROWS["embeddings"]),
}


def make_table(name: str, seed: int) -> pa.Table:
    """Catalog table ``name`` for ``seed``, as an Arrow table."""
    rng = np.random.default_rng([seed, 1, list(TABLE_MAKERS).index(name)])
    return TABLE_MAKERS[name](rng)


def write_tables(out_dir: str, seed: int, names: list[str]) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for each named catalog table
    and return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in names:
        table = make_table(name, seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# Raw ads
# ---------------------------------------------------------------------------

ADS_FILES = 16
ADS_GROUPS_PER_FILE = 100
ADS_PER_GROUP = (4, 12)
ADS_AS_OF = "2024-01-01 00:00:00"
_AS_OF_EPOCH = 1704067200
_TS_MAX = 4102444800
_FORMATS = ["VIDEO", "IMAGE", "DCO", "CAROUSEL"]
_FORMAT_P = [0.3, 0.3, 0.2, 0.2]
_AD_WORDS = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "los", "las", "y", "es", "una"],
    "fr": ["le", "les", "et", "est", "une", "dans"],
}
_AD_CONTENT = "sale shoes summer offer free shipping new deal today shop now best price".split()


@dataclass(frozen=True)
class AdsExpectation:
    """Pipeline results for one raw-ads input, computed in plain Python."""

    n_ads: int
    stage_counts: dict[str, int]
    curated_rows: int
    grouped_ads_count_sum: int
    media_mix_counts: dict[str, int]
    top10_ad_ids: list[str]


def _ad_text(rng: random.Random, uid: int) -> str:
    lang = rng.choice(sorted(_AD_WORDS))
    words = rng.choices(_AD_WORDS[lang] + _AD_CONTENT, k=rng.randint(4, 12))
    return " ".join(words) + f" ref{uid}"


def _raw_ad(rng: random.Random, uid: int, hours: int, count: int | None,
            f: int, g: int, shared: dict[str, list]) -> tuple[dict, dict]:
    """One raw ad and the fields the expectation needs.

    Keys that the keep-first dedups compare (ad_id, collation_id,
    ad_text) repeat only inside one file, where ingest positions
    differ. The keys that collapse across files (a null collation_id,
    an empty ad_text) occur only in groups whose index is congruent to
    the file index modulo ADS_FILES, so no two candidates share an
    ingest position (group_idx, pos) and every survivor is determined.
    """
    own_slot = g % ADS_FILES == f
    r = rng.random()
    if r < 0.06 and shared["ad_ids"]:
        ad_id = rng.choice(shared["ad_ids"])
    else:
        ad_id = f"ad{uid}"
    shared["ad_ids"].append(ad_id)

    r = rng.random()
    if r < 0.25 and own_slot:
        collation_id = None
    elif r < 0.45 and shared["collations"]:
        collation_id = rng.choice(shared["collations"])
    else:
        collation_id = f"col{uid}"
        shared["collations"].append(collation_id)

    fmt = rng.choices(_FORMATS, _FORMAT_P)[0]
    if rng.random() < 0.05 and shared["texts"]:
        text = rng.choice(shared["texts"])
    else:
        text = _ad_text(rng, uid)
        shared["texts"].append(text)
    if fmt in ("DCO", "CAROUSEL"):
        if own_slot and rng.random() < 0.3:
            cards, ad_text = [], ""
        else:
            cards = [
                {
                    "body": text if i == 0 else _ad_text(rng, uid),
                    "video_hd_url": f"https://v/{uid}/{i}" if rng.random() < 0.5 else None,
                    "original_image_url": f"https://i/{uid}/{i}" if rng.random() < 0.5 else None,
                }
                for i in range(rng.randint(1, 3))
            ]
            ad_text = text
        body = {"text": None}
    else:
        cards, ad_text = None, text
        body = {"text": text}
    if fmt == "VIDEO":
        media = (True, False)
    elif fmt == "IMAGE":
        media = (False, True)
    else:
        media = (
            any(c["video_hd_url"] is not None for c in cards),
            any(c["original_image_url"] is not None for c in cards),
        )

    # hours_passed is unique per ad (never .5 away from a rounding
    # boundary), so the report's top-10 order has no ties.
    jitter = rng.randint(0, 1700)
    start = _AS_OF_EPOCH - 3600 * hours - jitter
    total = 3600 * hours + jitter if rng.random() < 0.5 else None
    end = start + 3600 * rng.randint(0, 2000) if rng.random() < 0.6 else None
    r = rng.random()
    if r < 0.01:
        start = None
    elif r < 0.02:
        start = _TS_MAX + 3600 * rng.randint(1, 100)
    elif r < 0.03:
        end = start - 3600 * rng.randint(1, 100)

    ad = {
        "ad_archive_id": ad_id,
        "is_active": rng.random() < 0.7,
        "start_date": start,
        "end_date": end,
        "total_active_time": total,
        "collation_id": collation_id,
        "collation_count": count,
        "snapshot": {"display_format": fmt, "body": body, "cards": cards},
    }
    fields = {"ad_text": ad_text, "media": media, "hours": hours}
    return ad, fields


def write_raw_ads(out_dir: str, seed: int) -> AdsExpectation:
    """Write ADS_FILES raw JSON files (each an array of ad groups) and
    return the pipeline results they must produce."""
    rng = random.Random(f"ads-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n_groups = ADS_FILES * ADS_GROUPS_PER_FILE
    sizes = [rng.randint(*ADS_PER_GROUP) for _ in range(n_groups)]
    hours = list(range(1, sum(sizes) + 1))
    rng.shuffle(hours)
    # collation_count depends on (group_idx, pos) only. The pipeline's
    # running-max window partitions by group_idx, which restarts in
    # every file, so rows of different files interleave in one window;
    # equal counts at equal positions keep that result equal to the
    # per-file running max whatever order the ties take.
    counts = [
        [rng.randint(1, 30) if rng.random() < 0.8 else None
         for _ in range(ADS_PER_GROUP[1])]
        for _ in range(ADS_GROUPS_PER_FILE)
    ]

    rows = []  # (group_idx, pos, file, ad, fields) in ingest order
    uid = 0
    for f in range(ADS_FILES):
        shared: dict[str, list] = {"ad_ids": [], "collations": [], "texts": []}
        groups = []
        for g in range(ADS_GROUPS_PER_FILE):
            group = []
            for p in range(sizes[f * ADS_GROUPS_PER_FILE + g]):
                ad, fields = _raw_ad(rng, uid, hours[uid], counts[g][p], f, g, shared)
                group.append(ad)
                rows.append((g, p, f, ad, fields))
                uid += 1
            groups.append(group)
        with open(os.path.join(out_dir, f"ads-{f:02d}.json"), "w") as fh:
            json.dump(groups, fh)
    return _expect(rows)


def _expect(rows: list) -> AdsExpectation:
    # grouped_ads_count: running max of coalesce(collation_count, 0) in
    # group order, over every parsed ad (before validation).
    running: dict[tuple[int, int], int] = {}
    parsed = []
    for g, p, f, ad, fields in rows:
        key = (f, g)
        running[key] = max(running.get(key, 0), ad["collation_count"] or 0)
        parsed.append((g, p, ad, fields, running[key]))

    def valid(ad: dict) -> bool:
        s, e = ad["start_date"], ad["end_date"]
        return (
            s is not None and 0 <= s <= _TS_MAX
            and (e is None or 0 <= e <= _TS_MAX)
            and (e is None or e >= s)
        )

    ok = [r for r in parsed if valid(r[2])]

    def keep_first(items: list, key) -> list:
        seen: dict = {}
        for item in sorted(items, key=lambda r: (r[0], r[1])):
            seen.setdefault(key(item), item)
        return list(seen.values())

    curated = keep_first(ok, lambda r: r[2]["ad_archive_id"])
    curated = keep_first(curated, lambda r: r[2]["collation_id"])
    curated = keep_first(curated, lambda r: r[3]["ad_text"])

    mixes = {"both": 0, "video-only": 0, "image-only": 0, "none": 0}
    for r in curated:
        video, image = r[3]["media"]
        mix = "both" if video and image else "video-only" if video else (
            "image-only" if image else "none")
        mixes[mix] += 1
    active = [r for r in curated if r[2]["is_active"]]
    top = sorted(active, key=lambda r: (-r[3]["hours"], r[0], r[1]))[:10]
    return AdsExpectation(
        n_ads=len(rows),
        stage_counts={
            "parsed": len(parsed),
            "valid": len(ok),
            "invalid": len(parsed) - len(ok),
            "post_dedup": len(curated),
        },
        curated_rows=len(curated),
        grouped_ads_count_sum=sum(r[4] for r in curated),
        media_mix_counts=mixes,
        top10_ad_ids=[r[2]["ad_archive_id"] for r in top],
    )
