"""Seeded generator for the batch workloads' input tables.

Writes the ten parquet tables the engine's queries read (`region nation
customer supplier part orders lineitem events documents embeddings`)
with the column names, types and value distributions of the engine's
synthetic test bed: a TPC-H-like star schema, an `events` click stream,
a `documents` corpus over a 30-word vocabulary with 5% planted
"<earlier doc> dup" copies, and 64-dimensional unit embeddings drawn
around ten label centres. Row counts scale with `sf` the way the test
bed does (lineitem = 6M x sf). The same (sf, seed) always gives the
same rows.

Beside them it writes the reference's raw weather feed: `weather.jsonl`,
one Schema-A JSON record per line as the Kafka topic carries it, and
`weather_records.parquet`, the same records as parsed string fields
(all null for a record that is not JSON), which the oracle SQL reads.
"""
import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "large hot red blue small new old big".split()
NOUN = "ring bolt anvil rod plate widget gear pipe".split()
TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86400 * 1_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (start + offs).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centres = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + 0.7 * rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


CITIES = [("Casablanca", "33.5928", "-7.6192"), ("Rabat", "34.0209", "-6.8416"),
          ("Marrakech", "31.6295", "-7.9811"), ("F\u00e8s", "34.0181", "-5.0078"),
          ("Tanger", "35.7595", "-5.8340"), ("Agadir", "30.4278", "-9.5981"),
          ("Ifrane", "33.5228", "-5.1100"), ("Errachidia", "31.9314", "-4.4244")]
DESCRIPTIONS = ["clear sky", "few clouds", "overcast clouds", "broken clouds",
                "light rain", "moderate rain", "thunderstorm", "snow", "mist", "fog",
                "clear sky with clouds", "drizzle", ""]
SCHEMA_A = ["date", "weather_description", "latitude", "pression", "humidit\u00e9",
            "feels_like", "city_name", "local_time", "min_temp", "wind_speed",
            "temp\u00e9rature", "max_temp", "timestamp", "longitude"]
WEATHER_ROWS = 10_000


def weather(n, seed):
    """n Schema-A records: (JSON lines, parsed string fields). Temperatures
    span -15..45 C, so both the wind-chill (T <= 10) and the heat-index
    (T >= 27) branches fire and every alert type occurs; 4% of numeric
    fields are empty or not a number, 2% of records lack one field and
    1% are not JSON at all."""
    rng = random.Random(seed)
    lines, rows = [], []
    for i in range(n):
        if rng.randrange(100) == 0:
            lines.append(f'{{"city_name": "broken-{i}", ')
            rows.append(dict.fromkeys(SCHEMA_A))
            continue
        city, lat, lon = CITIES[rng.randrange(len(CITIES))]
        epoch = 1761661906 + rng.randrange(30 * 86400)
        dt = datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc)
        t = -15.0 + rng.random() * 60.0

        def num(v, digits):
            k = rng.randrange(50)
            return "" if k == 0 else "n/a" if k == 1 else f"{v:.{digits}f}"
        rec = {
            "date": dt.strftime("%Y-%m-%d %H:%M:%S"),
            "weather_description": DESCRIPTIONS[rng.randrange(len(DESCRIPTIONS))],
            "latitude": lat, "longitude": lon,
            "pression": num(975 + rng.randrange(70), 0),
            "humidit\u00e9": num(10 + rng.randrange(91), 0),
            "feels_like": num(t - 3 + rng.random() * 6, 2),
            "city_name": city,
            "local_time": (dt + datetime.timedelta(hours=1)).strftime("%Y-%m-%d %H:%M:%S"),
            "min_temp": num(t - rng.random() * 3, 2),
            "max_temp": num(t + rng.random() * 3, 2),
            "wind_speed": num(rng.random() * 60, 2),
            "temp\u00e9rature": num(t, 2),
            "timestamp": str(epoch)}
        if rng.randrange(50) == 0:
            del rec[list(rec)[rng.randrange(len(rec))]]
        lines.append(json.dumps(rec, ensure_ascii=False))
        rows.append({k: rec.get(k) for k in SCHEMA_A})
    table = pa.table({k: pa.array([r[k] for r in rows], pa.string()) for k in SCHEMA_A})
    return lines, table


def write(sf_dir, sf, seed):
    """Write every table to `<sf_dir>/<name>.parquet` (one file each) and
    the weather feed beside them."""
    tmp = sf_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    lines, records = weather(WEATHER_ROWS, seed)
    with open(os.path.join(tmp, "weather.jsonl"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    pq.write_table(records, os.path.join(tmp, "weather_records.parquet"))
    os.rename(tmp, sf_dir)
