"""Deterministic inputs for the benchmark, generated inside the checkout.

Two input sets:

* ``tpch_tables`` -- the star-schema + ``events`` + LLM tables the
  catalog queries read: the engine's sf0.1 test data, regenerated
  byte for byte (same draws from seed 42, written through pandas). Each
  file is checked against its pinned SHA-256 before the set is used, so a
  numpy, pyarrow or pandas version that writes other bytes stops the run
  instead of silently measuring other inputs. Generated once per checkout
  and cached.
* ``i94_inputs`` -- one month of an I94-shaped immigration fact (SAS
  numerics as doubles, character dates, planted null keys and full-row
  duplicates) plus the SAS ``proc format`` label file its dimensions come
  from. Derived from the run's ``--seed``.

Only numpy, pyarrow and pandas are used; writes go to a temporary sibling
that is renamed into place, so an interrupted build never leaves a partial
cache.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

TPCH_SEED = 42
TPCH_VERSION = "tpch_sf0.1_v2"

# rows per table: the engine's sf0.1 test-data sizes
TPCH_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# SHA-256 of each file of the engine's sf0.1 test data
TPCH_SHA256 = {
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
    "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
    "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}

I94_SOURCE_ROWS = 100_000
I94_NULL_KEY_EVERY = 97  # every 97th source record loses its cicid
I94_DUP_EVERY = 50  # every 50th keyed record is appended again, full row

WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()


def _ts(base: dt.datetime, offsets, unit: str):
    import numpy as np

    return np.datetime64(base, unit) + offsets.astype(f"timedelta64[{unit}]")


def _write(table, path: str) -> None:
    """Written through pandas, as the engine's test data is: same pandas
    schema metadata, one row group, timestamps stored in microseconds."""
    table.to_pandas().to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )


def _publish(tmp: str, final: str) -> str:
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return final
    os.rename(tmp, final)
    return final


def tpch_tables(cache_root: str) -> str:
    """Directory holding the ten catalog tables; built on first use."""
    final = os.path.join(cache_root, TPCH_VERSION)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tpch_arrow(TPCH_SEED).items():
        path = os.path.join(tmp, f"{name}.parquet")
        _write(table, path)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        if digest != TPCH_SHA256[name]:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"generated {name}.parquet differs from the sf0.1 test data "
                f"(sha256 {digest}, expected {TPCH_SHA256[name]})"
            )
    return _publish(tmp, final)


def _tpch_arrow(seed: int) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = TPCH_ROWS
    out = {}

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": regions,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], nc
        ),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    npart = n["part"]
    colors = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    nouns = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
    pkeys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": [
            f"{colors[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], npart
        ),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900 + (pkeys % 1000) / 10.0, 1),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2405, no) * 86_400, "s"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2499, nl) * 86_400, "s"),
    })

    ne = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        # sorted float seconds taken to ns; the write truncates them to us
        "ts": _ts(dt.datetime(2024, 1, 1),
                  (np.sort(rng.uniform(0, 30 * 86_400, ne)) * 1e9).astype(np.int64), "ns"),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100))))
        for _ in range(nd)
    ]
    # 5% near-duplicates: another document's text plus one word, applied in
    # draw order, so a copy of a copy carries the word twice
    near = rng.choice(nd, nd // 20, replace=False)
    for i, j in zip(near, rng.integers(0, nd, len(near))):
        texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    })
    return out


# --- I94 -----------------------------------------------------------------

COUNTRY_CODES = list(range(101, 341))
STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FL", "GA", "HI",
    "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN",
    "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH",
    "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA",
    "WV", "WI", "WY",
]
PORTS = [f"{chr(65 + i // 26)}{chr(65 + i % 26)}X" for i in range(300)]
PORT_NAMES = {p: f"PORT {p}, {STATES[i % len(STATES)]}" for i, p in enumerate(PORTS)}
MODES = {"1": "Air", "2": "Sea", "3": "Land", "9": "Not reported"}
VISAS = {"1": "Business", "2": "Pleasure", "3": "Student"}
SAS_EPOCH = dt.date(1960, 1, 1)


def sas_labels_text() -> str:
    """A label file in the reference's ``proc format`` shape: value blocks
    for country, port, mode and state, and the visa map only inside a
    comment, as the reference ships it."""
    lines = ["/* I94 label descriptions */", "value i94cntyl"]
    lines += [f"   {c} =  'COUNTRY {c}'" for c in COUNTRY_CODES]
    lines += ["   ;", "value $i94prtl"]
    lines += [f"   '{p}'\t=\t'{name}'" for p, name in PORT_NAMES.items()]
    lines += ["   ;", "value i94model"]
    lines += [f"   {k} = '{v}'" for k, v in MODES.items()]
    lines += ["   ;", "value i94addrl"]
    lines += [f"   '{s}'='STATE {s}'" for s in STATES]
    lines += ["   ;", "/* I94VISA - Visa codes collapsed into three categories:"]
    lines += [f"   {k} = {v}" for k, v in VISAS.items()]
    lines += ["*/", ""]
    return "\n".join(lines)


def i94_month(seed: int) -> tuple[int, int]:
    return 2016, 1 + seed % 12


def i94_inputs(cache_root: str, seed: int) -> dict:
    """Raw I94 fact parquet + label file for ``seed``; older seeds' inputs
    are removed so the cache holds one month."""
    final = os.path.join(cache_root, f"i94_{I94_SOURCE_ROWS}_seed{seed}")
    if not os.path.isdir(final):
        for old in os.listdir(cache_root):
            if old.startswith("i94_"):
                shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        table, expected = _i94_arrow(seed)
        import pyarrow.parquet as pq

        pq.write_table(table, os.path.join(tmp, "raw.parquet"), row_group_size=30_000)
        with open(os.path.join(tmp, "labels.sas"), "w") as f:
            f.write(sas_labels_text())
        with open(os.path.join(tmp, "expected_rows"), "w") as f:
            f.write(str(expected))
        _publish(tmp, final)
    with open(os.path.join(final, "expected_rows")) as f:
        expected = int(f.read())
    return {
        "dir": final,
        "raw": os.path.join(final, "raw.parquet"),
        "labels": os.path.join(final, "labels.sas"),
        "expected_rows": expected,
    }


def _i94_arrow(seed: int):
    """(table, rows clean() must keep). Null keys and duplicates are
    planted at fixed strides, everything else is drawn from ``seed``."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = I94_SOURCE_ROWS
    year, month = i94_month(seed)
    first = (dt.date(year, month, 1) - SAS_EPOCH).days
    days = (dt.date(year + month // 12, month % 12 + 1, 1) - dt.date(year, month, 1)).days

    cicid = rng.permutation(n).astype(np.float64) + 1.0
    cicid_valid = (np.arange(n) % I94_NULL_KEY_EVERY) != 0
    arrdate = (first + rng.integers(0, days, n)).astype(np.float64)
    stay = rng.integers(0, 90, n)
    dep_valid = rng.random(n) > 0.1
    age = rng.integers(0, 91, n).astype(np.float64)
    ds = rng.random(n) < 0.12

    def chardate(sas_days, fmt):
        uniq, inverse = np.unique(sas_days.astype(np.int64), return_inverse=True)
        text = np.array(
            [(SAS_EPOCH + dt.timedelta(days=int(d))).strftime(fmt) for d in uniq],
            dtype=object,
        )
        return text[inverse]

    codes = np.array(COUNTRY_CODES + [999], dtype=np.float64)  # 999: unlabeled
    states = np.array(STATES + ["XX"], dtype=object)
    addr = states[rng.integers(0, len(states), n)]
    addr[rng.random(n) < 0.05] = None
    gender = np.array(["M", "F", None], dtype=object)[rng.integers(0, 3, n)]
    cols = {
        "cicid": pa.array(cicid, mask=~cicid_valid),
        "i94yr": np.full(n, float(year)),
        "i94mon": np.full(n, float(month)),
        "i94cit": codes[rng.integers(0, len(codes), n)],
        "i94res": codes[rng.integers(0, len(codes), n)],
        "i94port": np.array(PORTS, dtype=object)[rng.integers(0, len(PORTS), n)],
        "arrdate": arrdate,
        "i94mode": np.array([1.0, 2.0, 3.0, 9.0])[rng.choice(4, n, p=[0.85, 0.05, 0.08, 0.02])],
        "i94addr": pa.array(addr, type=pa.string()),
        "depdate": pa.array(arrdate + stay, mask=~dep_valid),
        "i94bir": age,
        "i94visa": rng.integers(1, 4, n).astype(np.float64),
        "count": np.ones(n),
        "dtadfile": chardate(arrdate, "%Y%m%d"),
        "visapost": np.array(PORTS, dtype=object)[rng.integers(0, 40, n)],
        "gender": pa.array(gender, type=pa.string()),
        "airline": np.array(["AA", "UA", "DL", "BA", "LH", "AF", "JL"], dtype=object)[
            rng.integers(0, 7, n)
        ],
        "admnum": np.round(rng.uniform(1e9, 1e11, n)),
        "fltno": rng.integers(1, 9999, n).astype(str).astype(object),
        "visatype": np.array(["B1", "B2", "WT", "WB", "F1", "E2"], dtype=object)[
            rng.integers(0, 6, n)
        ],
        "biryear": year - age,
        "dtaddto": np.where(
            ds, "D/S", chardate(arrdate + 180, "%m%d%Y")
        ).astype(object),
    }
    table = pa.table(cols)
    keyed = np.flatnonzero(cicid_valid)
    dups = table.take(pa.array(keyed[::I94_DUP_EVERY]))
    table = pa.concat_tables([table, dups])
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    return table, int(cicid_valid.sum())
