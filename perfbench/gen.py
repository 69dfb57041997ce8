"""Seeded input generators for the benchmark (numpy + pyarrow only).

Nothing here imports the package under test, so a change to the package
cannot change its own load. Three generators:

- ``base_tables``: the TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings`` that every ``__spark_entry__`` query reads, at a given
  scale factor (``corpus_tables``: only the last two).
- ``cdc_lifecycle``: a CDC lifecycle message log (clone echoes, enriched
  admits, state echoes, user cancels with sentinel echoes, organizer
  cascades, ~5% redeliveries), plus the declarative ``reservas`` table and
  per-event availability it implies after any prefix of the log.
- ``admission_requests``: a reserve/cancel request stream with
  Zipf-skewed event popularity, plus the ledger a sequential admission
  fold produces from it.

The same seed always gives the same inputs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
P_ADJ = np.array(["red", "small", "new", "blue", "old", "large", "hot", "cold"])
P_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])

US_PER_DAY = 86_400_000_000


def _ts(start: str, us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array((base + us).astype("datetime64[us]"))


def _labels(prefix: str, n: int, width: int) -> pa.Array:
    return pa.array([f"{prefix}{i:0{width}d}" for i in range(n)])


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (sf0.1 ≈ 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _labels("Customer#", n_cust, 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _labels("Supplier#", n_supp, 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(P_ADJ, n_part), " "),
                                       rng.choice(P_NOUN, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    li = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
    }
    # (orderkey, linenumber, partkey, suppkey, quantity) is the table's key:
    # drop the rare random collisions so it stays unique
    packed = (li["l_orderkey"] * 1_000_000_000_000 + li["l_linenumber"] * 100_000_000_000
              + li["l_partkey"] * 1_000_000 + li["l_suppkey"] * 100 + li["l_quantity"].astype(np.int64))
    _, first = np.unique(packed, return_index=True)
    keep = np.sort(first)
    n_keep = len(keep)
    lineitem = pa.table({
        **{k: pa.array(v[keep]) for k, v in li.items()},
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_keep), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_keep) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_keep) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["N", "A", "R"]), n_keep)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n_keep)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_keep) * US_PER_DAY),
    })
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
        "documents": documents(rng, n_doc), "embeddings": embeddings(rng, n_emb),
    }


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Only the two tables the corpus operators read."""
    rng = np.random.default_rng([seed, 5])
    return {"documents": documents(rng, int(50_000 * sf)),
            "embeddings": embeddings(rng, int(20_000 * sf))}


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts over a 30-word vocabulary; 5% are near-duplicates
    (another document's text plus the token ``dup``)."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    words = rng.choice(vocab, int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dups = rng.choice(n, n // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit-norm float32 vectors drawn uniformly on the sphere, with a label
    in ``[0, k)`` drawn independently of the vector, as in the repository's
    sf0.1 test fixture (whose per-label centroids are no longer than chance
    allows)."""
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat,
                                              type=pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(labels.astype(np.int32)),
    })


# ---------------------------------------------------------------------------
# CDC lifecycle log
# ---------------------------------------------------------------------------

MESSAGE_SCHEMA = pa.schema([
    ("seq", pa.int64()), ("topic", pa.string()), ("key", pa.string()), ("value", pa.string()),
])
TOPIC_INV, TOPIC_RES = "boletia.inventario", "boletia.reservas"


def _wire(doc: dict) -> str:
    """The connector's double encoding: the document JSON, JSON-quoted."""
    return json.dumps(json.dumps(doc, separators=(",", ":")))


@dataclass
class CdcLog:
    messages: pa.Table          # seq, topic, key, value — in delivery order
    eventos: pa.Table           # nombre, capacidad
    res_id: list                # per reservation: _id, event index, email, qty
    res_event: np.ndarray
    res_email: list
    res_qty: np.ndarray
    admit_seq: np.ndarray       # seq of the enriched admit that materializes it
    x_seq: np.ndarray           # seq of its user cancel, or NEVER
    c_seq: np.ndarray           # seq of its event's organizer cancel, or NEVER


NEVER = np.iinfo(np.int64).max


def cdc_lifecycle(seed: int, n_events: int, n_res: int, x_frac: float = 0.2,
                  c_frac: float = 0.1, dup_frac: float = 0.05) -> CdcLog:
    """The message log in causal seq order.

    Event clone echoes come first (seq 1..n_events). Reservation r gets
    seqs 4(n_events+1)+4r+phase: the enriched inventario admit (phase 0,
    materializes r), the reservas "A" echo (1, skipped), and for user
    cancels the reservas "X" message (2, flips r to X) and the canres=-1
    sentinel echo (3, skipped). Organizer-cancelled events then get an
    inventario "C" clone each, which cascades their active reservations to
    "C". A ``dup_frac`` share of messages is redelivered right after the
    original.
    """
    rng = np.random.default_rng([seed, 4])
    ev_ids = [f"{i:024x}" for i in range(1, n_events + 1)]
    ev_names = [f"Evento {i:06d}" for i in range(n_events)]
    caps = rng.integers(100, 5000, n_events)
    cats = rng.choice(np.array([f"Brand#{i}" for i in range(1, 26)]), n_events)
    p = np.arange(1, n_events + 1, dtype=np.float64) ** -0.8
    r_ev = rng.choice(n_events, n_res, p=p / p.sum())
    r_qty = rng.integers(1, 9, n_res)
    r_email = [f"user{u}@example.com" for u in rng.integers(0, 2000, n_res)]
    r_x = rng.random(n_res) < x_frac
    cancelled = rng.random(n_events) < c_frac
    r_id = [f"{0x5000_0000 + r:024x}" for r in range(n_res)]

    def ev_doc(e: int, estado: str) -> dict:
        return {"_id": ev_ids[e], "nombre": ev_names[e], "capacidad": int(caps[e]),
                "categoria": str(cats[e]), "estado": estado}

    msgs = [(e + 1, TOPIC_INV, ev_ids[e], _wire(ev_doc(e, "A"))) for e in range(n_events)]
    base = 4 * (n_events + 1)
    for r in range(n_res):
        e, qty, s = int(r_ev[r]), int(r_qty[r]), base + 4 * r
        admit = {**ev_doc(e, "A"), "idres": r_id[r], "email": r_email[r], "canres": qty}
        res_a = {"_id": r_id[r], "evento": ev_names[e], "estado": "A", "email": r_email[r],
                 "cantidad": qty}
        msgs.append((s, TOPIC_INV, ev_ids[e], _wire(admit)))
        msgs.append((s + 1, TOPIC_RES, r_id[r], _wire(res_a)))
        if r_x[r]:
            msgs.append((s + 2, TOPIC_RES, r_id[r], _wire({**res_a, "estado": "X"})))
            msgs.append((s + 3, TOPIC_INV, ev_ids[e], _wire({**admit, "canres": -1})))
    ev_c_seq = np.full(n_events, NEVER, dtype=np.int64)
    s_c = base + 4 * n_res
    for e in np.flatnonzero(cancelled):
        ev_c_seq[e] = s_c + int(e)
        msgs.append((int(ev_c_seq[e]), TOPIC_INV, ev_ids[e], _wire(ev_doc(int(e), "C"))))
    log = []
    for m, d in zip(msgs, rng.random(len(msgs)) < dup_frac):
        log.append(m)
        if d:
            log.append(m)
    cols = list(zip(*log))
    admit_seq = base + 4 * np.arange(n_res, dtype=np.int64)
    return CdcLog(
        messages=pa.table({"seq": pa.array(cols[0], pa.int64()), "topic": pa.array(cols[1]),
                           "key": pa.array(cols[2]), "value": pa.array(cols[3])},
                          schema=MESSAGE_SCHEMA),
        eventos=pa.table({"nombre": ev_names, "capacidad": pa.array(caps.astype(np.int32))}),
        res_id=r_id, res_event=r_ev, res_email=r_email, res_qty=r_qty,
        admit_seq=admit_seq, x_seq=np.where(r_x, admit_seq + 2, NEVER),
        c_seq=ev_c_seq[r_ev],
    )


def cdc_final_table(log: CdcLog, upto_seq: int) -> pa.Table:
    """The declarative ``reservas`` table after every message with seq <=
    ``upto_seq``: a reservation exists once admitted; it is X once its user
    cancel arrived, else C once its event was cancelled, else A."""
    present = log.admit_seq <= upto_seq
    estado = np.where(log.x_seq <= upto_seq, "X", np.where(log.c_seq <= upto_seq, "C", "A"))
    idx = np.flatnonzero(present)
    names = log.eventos.column("nombre").to_pylist()
    return pa.table({
        "_id": [log.res_id[i] for i in idx],
        "evento": [names[log.res_event[i]] for i in idx],
        "estado": estado[idx],
        "email": [log.res_email[i] for i in idx],
        "cantidad": pa.array(log.res_qty[idx].astype(np.int32)),
        "seq": pa.array(log.admit_seq[idx]),
    })


def cdc_availability(log: CdcLog, upto_seq: int) -> pa.Table:
    """Availability per event over that table: capacidad - sum of active seats."""
    active = (log.admit_seq <= upto_seq) & (log.x_seq > upto_seq) & (log.c_seq > upto_seq)
    n_ev = log.eventos.num_rows
    reserved = np.bincount(log.res_event[active], weights=log.res_qty[active],
                           minlength=n_ev).astype(np.int64)
    cap = log.eventos.column("capacidad").to_numpy().astype(np.int64)
    return pa.table({"nombre": log.eventos.column("nombre"), "capacidad": log.eventos.column("capacidad"),
                     "reservado": pa.array(reserved), "disponible": pa.array(cap - reserved)})


# ---------------------------------------------------------------------------
# Admission request stream
# ---------------------------------------------------------------------------

REQUEST_SCHEMA = pa.schema([
    ("evento", pa.string()), ("seq", pa.int64()), ("_id", pa.string()), ("email", pa.string()),
    ("op", pa.string()), ("cantidad", pa.int32()), ("capacidad", pa.int32()),
])


def admission_requests(seed: int, n_events: int, n_requests: int, zipf_s: float = 1.1,
                       cancel_frac: float = 0.1) -> tuple[pa.Table, pa.Table]:
    """A request stream in seq order and the ledger it must produce.

    Event popularity is Zipf-skewed (weight ``rank ** -zipf_s``), so the hot
    events sell out and later requests for them are rejected. About
    ``cancel_frac`` of the requests are cancels of an earlier admitted,
    not yet cancelled reservation of the same event. The expected ledger is
    a plain sequential fold: a reserve is admitted iff the event's current
    availability covers it and then takes its seats; a cancel always gives
    its seats back.
    """
    rng = np.random.default_rng([seed, 6])
    names = [f"Evento {i:06d}" for i in range(n_events)]
    caps = rng.integers(100, 5000, n_events)
    p = np.arange(1, n_events + 1, dtype=np.float64) ** -zipf_s
    ev = rng.choice(n_events, n_requests, p=p / p.sum())
    qty = rng.integers(1, 9, n_requests)
    is_cancel = rng.random(n_requests) < cancel_frac
    pick = rng.random(n_requests)
    users = rng.integers(0, 5000, n_requests)
    available = caps.astype(np.int64).copy()
    open_res: list[list] = [[] for _ in range(n_events)]  # admitted, not cancelled: (_id, email, qty)
    cols = {k: [] for k in ("evento", "seq", "_id", "email", "op", "cantidad", "capacidad",
                            "admitted", "disponible_despues")}
    for i in range(n_requests):
        e = int(ev[i])
        held = open_res[e]
        if is_cancel[i] and held:
            rid, email, q = held.pop(int(pick[i] * len(held)))
            op, ok = "cancel", True
            available[e] += q
        else:
            rid, email, q = f"{0x6000_0000 + i:024x}", f"user{users[i]}@example.com", int(qty[i])
            op, ok = "reserve", bool(available[e] >= q)
            if ok:
                available[e] -= q
                held.append((rid, email, q))
        for k, v in (("evento", names[e]), ("seq", i + 1), ("_id", rid), ("email", email),
                     ("op", op), ("cantidad", q), ("capacidad", int(caps[e])),
                     ("admitted", ok), ("disponible_despues", int(available[e]))):
            cols[k].append(v)
    requests = pa.table({k: cols[k] for k in REQUEST_SCHEMA.names}, schema=REQUEST_SCHEMA)
    ledger = pa.table({
        **{k: cols[k] for k in ("evento", "seq", "_id", "email", "op")},
        "cantidad": pa.array(cols["cantidad"], pa.int32()),
        "admitted": pa.array(cols["admitted"], pa.bool_()),
        "disponible_despues": pa.array(cols["disponible_despues"], pa.int64()),
    })
    return requests, ledger
