"""Seeded input generators for the benchmark.

Everything here is plain numpy/pyarrow: the engine under test sees only
the files these functions write. The same ``seed`` always gives the same
bytes, and every generator also returns what it planted, so the checks
in ``checks.py`` can compare the engine's outputs with figures that were
never computed by the engine.

Run ``python3 perfbench/gen.py <workload> <seed> <out_dir>`` to write one
workload's inputs by hand.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 star schema (TESTDATA.md); a scale factor s
# writes ``round(count * s / 0.1)`` rows of each table, except the two
# fixed dimensions.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMBED_DIM = 64

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _corpus(rng, n_docs: int) -> list[str]:
    """Random-word documents over the sf0.1 vocabulary, with a planted
    share of near duplicates (a copy of an earlier document with one
    word swapped and ``dup`` appended) and a few exact copies, so the
    dedup operators have real clusters to find."""
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    for i in range(1, n_docs):
        r = rng.random()
        src = int(rng.integers(0, i))
        if r < 0.05:
            toks = texts[src].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(toks) + " dup"
        elif r < 0.052:
            texts[i] = texts[src]
    return texts


def write_star(out_dir: str, seed: int, sf: float, corpus_sf: float | None = None) -> dict:
    """Write the ten sf0.1-schema tables at scale factor ``sf`` (the
    document and embedding corpus at ``corpus_sf``, default ``sf``).
    Returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(1, round(c * sf / 0.1)) for t, c in SF01_ROWS.items()}
    csf = sf if corpus_sf is None else corpus_sf
    for t in ("documents", "embeddings"):
        n[t] = max(1, round(SF01_ROWS[t] * csf / 0.1))
    n["region"], n["nation"] = 5, 25

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, no),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, nl),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, ne // 66), ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng, 0.0, 560.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _corpus(rng, nd)
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    # every few vectors is a small perturbation of an earlier one, so
    # near-duplicate and ANN operators find real neighbours
    for i in range(1, nv):
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(EMBED_DIM)
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    if (norms == 0).any():  # the kernels reject zero-norm vectors by design
        raise ValueError("generated a zero-norm embedding")
    vecs = (vecs / norms).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return n


# ---------------------------------------------------------------- lakehouse

def cdc_plan(seed: int, base_rows: int, n_batches: int, batch_rows: int) -> dict:
    """A seeded CDC history over a ``(id bigint, name string, amount
    bigint)`` table: the base rows, ``n_batches`` merge batches of
    U/I/D ops, one blind-append batch of fresh keys and one
    merge-on-read delete set. Ops only ever update or delete live keys
    and only insert absent ones, and no key appears twice in a batch,
    so the expected table after each commit is unambiguous."""
    rng = np.random.default_rng(seed)
    serial = iter(range(10**9))

    def payload(key: int) -> tuple[str, int]:
        # the serial makes every update's payload differ from the row it
        # replaces, so no update is a carried (unchanged) row
        return f"name_{key}_{next(serial)}", int(rng.integers(0, 10**9))

    base = {k: payload(k) for k in range(base_rows)}
    live = dict(base)
    next_key = base_rows
    batches = []
    for _ in range(n_batches):
        keys = sorted(live)
        touched = rng.choice(len(keys), size=2 * batch_rows // 3, replace=False)
        half = len(touched) // 2
        batch = []
        for j in touched[:half]:
            k = keys[j]
            batch.append((k, "U", *payload(k)))
        for j in touched[half:]:
            batch.append((keys[j], "D", None, None))
        for _ in range(batch_rows - len(touched)):
            batch.append((next_key, "I", *payload(next_key)))
            next_key += 1
        for k, op, name, amount in batch:
            if op == "D":
                del live[k]
            else:
                live[k] = (name, amount)
        batches.append(batch)
    append = []
    for _ in range(batch_rows):
        append.append((next_key, *payload(next_key)))
        live[next_key] = append[-1][1:]
        next_key += 1
    keys = sorted(live)
    deletes = sorted(int(keys[j]) for j in rng.choice(len(keys), size=batch_rows // 2, replace=False))
    return {"base": base, "batches": batches, "append": append, "deletes": deletes}


# ---------------------------------------------------------------- xml ingest

CITIES = [
    "Berkeley", "MADISON", "oakland", "Chicago", "austin", "Denver", "PORTLAND",
    "boston", "Seattle", "atlanta", "Tucson", "omaha", "Madison", "berkeley",
]
STATES = ["CA", "WI", "IL", "TX", "CO", "OR", "MA", "WA", "GA", "AZ", "NE"]


def write_xml(out_dir: str, seed: int, n_files: int, bad_share: float) -> dict:
    """Write ``n_files`` 990-shaped XML returns and a manifest of their
    relative URIs; a fixed share of them (``bad_share``, at seeded
    positions) is malformed. Every good file has a filer city, a
    seeded number of officer groups, and a preparer city in about half
    of them; city names come in mixed case, so CitiesCount's lowercase
    merge has work to do. Returns the manifest path and what was
    planted: the lowercase city counts and the records (non-empty text
    elements of the good files), files and failed-file totals."""
    rng = np.random.default_rng(seed)
    xml_dir = os.path.join(out_dir, "xml")
    os.makedirs(xml_dir)
    n_bad = round(n_files * bad_share)
    bad = set(rng.choice(n_files, size=n_bad, replace=False).tolist())
    cities: dict[str, int] = {}
    records = 0
    lines = []
    for i in range(n_files):
        name = f"return{i:05d}.xml"
        lines.append(f"xml/{name}")
        city = CITIES[int(rng.integers(0, len(CITIES)))]
        state = STATES[int(rng.integers(0, len(STATES)))]
        prep = CITIES[int(rng.integers(0, len(CITIES)))] if rng.random() < 0.5 else None
        n_off = int(rng.integers(1, 31))
        revenue = int(rng.integers(0, 10**9))
        officers = "\n".join(
            f"      <OfficerGrp><PersonNm>officer {i}-{j}</PersonNm>"
            f"<CompensationAmt>{int(rng.integers(0, 10**6))}</CompensationAmt>"
            f"<AddressLine1Txt>unit {j} building {i % 97}</AddressLine1Txt></OfficerGrp>"
            for j in range(n_off)
        )
        preparer = (
            f"    <PreparerFirmGrp>\n      <USAddress><CityNm> {prep} </CityNm></USAddress>\n"
            "    </PreparerFirmGrp>\n" if prep else ""
        )
        doc = (
            '<?xml version="1.0" encoding="utf-8"?>\n'
            '<Return xmlns="http://www.irs.gov/efile" returnVersion="2016v3.0">\n'
            "  <ReturnHeader>\n    <Filer>\n      <USAddress>\n"
            f"        <CityNm>{city}</CityNm>\n"
            f"        <StateAbbreviationCd>{state}</StateAbbreviationCd>\n"
            "      </USAddress>\n    </Filer>\n"
            f"{preparer}  </ReturnHeader>\n  <ReturnData>\n    <IRS990>\n"
            f"      <TotalRevenueAmt>{revenue}</TotalRevenueAmt>\n{officers}\n"
            "    </IRS990>\n  </ReturnData>\n</Return>\n"
        )
        if i in bad:
            # cut inside the filer block: the parse fails, the file counts as failed
            doc = doc[: doc.index("<StateAbbreviationCd>")]
        else:
            for c in (city, prep):
                if c:
                    cities[c.lower()] = cities.get(c.lower(), 0) + 1
            # CityNm (1 or 2), state, revenue, three per officer group
            records += 3 + (prep is not None) + 3 * n_off
        with open(os.path.join(xml_dir, name), "w") as f:
            f.write(doc)
    manifest = os.path.join(out_dir, "manifest.txt")
    with open(manifest, "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"manifest": manifest, "base_dir": out_dir, "cities": cities,
            "records": records, "files": n_files, "failed": n_bad}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py {{{'|'.join(WORKLOADS)}}} <seed> <out_dir>")
    WORKLOADS[sys.argv[1]].generate(sys.argv[3], int(sys.argv[2]))
    for d, _, files in sorted(os.walk(sys.argv[3])):
        for f in sorted(files):
            path = os.path.join(d, f)
            print(f"{os.path.getsize(path):>10}  {path}")
