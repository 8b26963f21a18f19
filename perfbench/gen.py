"""Seeded inputs for the benchmark: the corpus tables and each workload's op stream.

Everything the program sees is derived from the seed given here, so the same
seed gives byte-identical tables and an identical op stream.  The tables have
the schema, value domains and row counts of the scale-factor-0.1 TPC-H-ish
corpus the engine is benchmarked on (``graft.Bench`` at sf0.1).  Each
workload gets only the tables it reads, plus its own inputs:

* ``isolate_search``: ``orders``, ``lineitem`` and ``orders_layout/``, a
  range-clustered multi-file copy of ``orders`` (sorted by order date,
  ``o_orderdate`` as a DATE, a ``new_version`` column) that the search
  registers with the skipping layer;
* ``corpus_ingest``: ``documents``, ``embeddings``, ``ingest_base.parquet``
  (the ids of the seeded two-thirds index base) and
  ``ingest_docs.parquet`` / ``ingest_vecs.parquet``, the delta batches the
  workload appends: the third of ``documents`` outside the base, plus exact
  copies of base documents so the dedup gates have work to do.
"""
import collections
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 corpus, and the key domains of the tables the
# workloads do not read (customer, supplier, part).  ``embeddings`` has one
# vector per document here (sf0.1 has 2000 for 5000 documents): the ingest
# workload appends each document with its vector.
SIZES = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "documents": 5000,
}
LAYOUT_FILES = 16
INGEST_BATCH = 12          # fresh documents per delta batch
INGEST_DUPS = 3            # exact copies of base documents per delta batch
# Document words: 1728 pseudo-words.  A vocabulary this size keeps the word
# bigrams of two independent documents all but disjoint, so a fresh document
# is never a near duplicate and an exact copy always is: the verdict the
# dedup gates must reach is known from how the batch was made.
SYLLABLES = ["ka", "to", "ri", "mu", "se", "la", "po", "ne", "di", "fa",
             "zu", "bo"]
VOCAB = [a + b + c for a in SYLLABLES for b in SYLLABLES for c in SYLLABLES]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORKLOADS = ("isolate_search", "corpus_ingest")
OPS_PER_PLAN = 2000


def _days(base, offsets):
    """Timestamps (microseconds) ``offsets`` days after ``base``."""
    return pa.array(np.datetime64(base, "us")
                    + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(values, idx):
    return pa.array(np.array(values)[idx])


def _write(table, path):
    pq.write_table(table, path)


def make_corpus(workload, seed, out):
    """Write the tables ``workload`` reads, for ``seed``, under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "isolate_search":
        _isolate_tables(rng, out)
    elif workload == "corpus_ingest":
        _ingest_tables(rng, out)
    else:
        raise ValueError(f"unknown workload {workload}")


def _isolate_tables(rng, out):
    o, li = SIZES["orders"], SIZES["lineitem"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], o),
                              pa.int64()),
        "o_orderstatus": _pick(STATUSES, rng.integers(0, 3, o)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, o)),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, o))})
    _write(orders, f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SIZES["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], li),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, li)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, li)),
        "l_shipdate": _days("1995-01-01", rng.integers(1, 2499, li))}),
        f"{out}/lineitem.parquet")
    _layout(orders, out, rng)


def _ingest_tables(rng, out):
    d = SIZES["documents"]
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
             for k in rng.integers(10, 100, d)]
    _write(pa.table({
        "doc_id": pa.array(range(d), pa.int64()), "text": texts,
        "lang": _pick(["en", "en", "en", "es", "zh", "de", "fr"],
                      rng.integers(0, 7, d)),
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    labels = rng.integers(0, 10, d)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(d, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(d), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}), f"{out}/embeddings.parquet")
    _ingest(texts, vecs, labels, out, rng)


def _layout(orders, out, rng):
    """Range-clustered multi-file copy of orders for the skipping layer."""
    t = orders.sort_by([("o_orderdate", "ascending"),
                        ("o_orderkey", "ascending")])
    keys = t.column("o_orderkey").to_numpy()
    t = t.set_column(t.schema.get_field_index("o_orderdate"), "o_orderdate",
                     t.column("o_orderdate").cast(pa.date32()))
    t = t.append_column("new_version", pa.array(
        [int(k) + 1 if k % 10 == 7 else None for k in keys], pa.int64()))
    d = f"{out}/orders_layout"
    os.makedirs(d, exist_ok=True)
    # uneven, seeded cut points: file sizes differ between seeds
    cuts = np.sort(rng.choice(np.arange(1, len(keys)), LAYOUT_FILES - 1,
                              replace=False))
    for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, len(keys)])):
        _write(t.slice(a, b - a), f"{d}/part-{i:05d}.parquet")


def _ingest(texts, vecs, labels, out, rng):
    """Index base ids plus the delta batches the ingest workload appends."""
    d = len(texts)
    perm = rng.permutation(d)
    base = np.sort(perm[: 2 * d // 3])
    fresh = perm[2 * d // 3:]
    _write(pa.table({"doc_id": pa.array(base, pa.int64())}),
           f"{out}/ingest_base.parquet")
    rows, next_id = [], d
    for b, i in enumerate(range(0, len(fresh), INGEST_BATCH)):
        for k in fresh[i:i + INGEST_BATCH]:
            rows.append((int(k), int(k), b))
        for k in rng.choice(base, INGEST_DUPS, replace=False):
            rows.append((next_id, int(k), b))
            next_id += 1
    ids = [r[0] for r in rows]
    src = [r[1] for r in rows]
    batch = pa.array([r[2] for r in rows], pa.int32())
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [texts[k] for k in src],
        "arrival": pa.array(range(len(rows)), pa.int64()),
        "batch": batch}), f"{out}/ingest_docs.parquet")
    _write(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([vecs[k] for k in src],
                              pa.list_(pa.float32())),
        "label": pa.array([int(labels[k]) for k in src], pa.int32()),
        "batch": batch}), f"{out}/ingest_vecs.parquet")


# ---------------------------------------------------------------- op streams

def _q(v):
    return "'" + str(v).replace("'", "''") + "'"


LIN = "(SELECT l_orderkey FROM lineitem WHERE {})"


def _clause(fam, r):
    """One clause of family ``fam``: (JSON for the harness, reference SQL)."""
    if fam == "prov_eq":
        f, v = r.choice([("o_orderstatus", r.choice(STATUSES)),
                         ("o_orderpriority", r.choice(PRIORITIES))])
        v = v.lower() if r.random() < 0.5 else v
        return ({"family": "provenance", "field": f, "op": "Eq", "value": v,
                 "text": True}, f"upper({f}) = {_q(v.upper())}")
    if fam == "prov_range":
        op = r.choice(["Ge", "Gt", "Le", "Lt"])
        sym = {"Ge": ">=", "Gt": ">", "Le": "<=", "Lt": "<"}[op]
        if r.random() < 0.5:
            v = str(r.randrange(50000, 450000, 1000))
            return ({"family": "provenance", "field": "o_totalprice",
                     "op": op, "value": v, "text": False},
                    f"o_totalprice {sym} {v}")
        v = (dt.date(1995, 1, 1) + dt.timedelta(r.randrange(60, 2340))
             ).isoformat()
        return ({"family": "provenance", "field": "o_orderdate", "op": op,
                 "value": v, "text": False}, f"o_orderdate {sym} DATE {_q(v)}")
    if fam == "prov_text":
        op, v = r.choice([("Contains", "urg"), ("Contains", "low"),
                          ("Contains", "med"), ("StartsWith", "2-"),
                          ("StartsWith", "5-"), ("NotContains", "high")])
        like = f"%{v.upper()}%" if op != "StartsWith" else f"{v.upper()}%"
        sql = f"upper(o_orderpriority) LIKE {_q(like)}"
        if op == "NotContains":
            sql = f"(NOT {sql} OR o_orderpriority IS NULL)"
        return ({"family": "provenance", "field": "o_orderpriority", "op": op,
                 "value": v, "text": True}, sql)
    if fam == "designation":
        locus = r.randrange(1, 8)
        if r.random() < 0.25:
            return ({"family": "missing", "locus": locus},
                    f"o_orderkey NOT IN {LIN.format(f'l_linenumber = {locus}')}")
        v = str(r.randrange(0, SIZES['supplier']))
        return ({"family": "allele", "locus": locus, "value": v},
                "o_orderkey IN " + LIN.format(
                    f"l_linenumber = {locus} AND "
                    f"upper(CAST(l_suppkey AS VARCHAR)) = {_q(v)}"))
    if fam == "count":
        op = r.choice(["Ge", "Le"])
        n = r.randrange(2, 7)
        sym = {"Ge": ">=", "Le": "<="}[op]
        return ({"family": "count", "op": op, "n": n},
                "(SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey)"
                f" {sym} {n}")
    if fam == "eav":
        v, neg = r.choice(["R", "A", "N"]), r.random() < 0.3
        v = v.lower() if r.random() < 0.5 else v
        return ({"family": "eav", "field": "rf", "op": "Eq", "value": v,
                 "negate": neg},
                f"o_orderkey {'NOT IN' if neg else 'IN'} " + LIN.format(
                    f"upper(l_returnflag) = {_q(v.upper())}"))
    if fam == "tag":
        locus = r.randrange(1, 8)
        mode = r.choice(["Tagged", "Untagged", "Complete", "FlaggedR"])
        pred = {"Tagged": f"l_linenumber = {locus}",
                "Untagged": f"l_linenumber = {locus}",
                "Complete": f"l_linenumber = {locus} AND l_linestatus = 'F'",
                "FlaggedR": f"l_linenumber = {locus} AND l_returnflag = 'R'"}
        neg = "NOT IN" if mode == "Untagged" else "IN"
        return ({"family": "tag", "locus": locus, "mode": mode},
                f"o_orderkey {neg} " + LIN.format(pred[mode]))
    if fam == "status":
        locus, st = r.randrange(1, 8), r.choice(["confirmed", "provisional"])
        ls = "= 'F'" if st == "confirmed" else "<> 'F'"
        return ({"family": "status", "locus": locus, "status": st},
                "o_orderkey IN " + LIN.format(
                    f"l_linenumber = {locus} AND l_linestatus {ls}"))
    if fam == "seqbin":
        op = r.choice(["Ge", "Le"])
        v = r.randrange(20, 200, 10)
        having = f"(SELECT l_orderkey FROM lineitem GROUP BY 1 " \
                 f"HAVING sum(l_quantity) {'>=' if op == 'Ge' else '<='} {v})"
        sql = f"o_orderkey IN {having}"
        if op == "Le":   # entities without stats match < / <=
            sql = f"(o_orderkey NOT IN (SELECT l_orderkey FROM lineitem) " \
                  f"OR {sql})"
        return ({"family": "seqbin", "field": "size", "op": op,
                 "value": float(v)}, sql)
    if fam == "checks":
        scope = r.choice(["any", "named"])
        status = r.choice(["warn", "fail"])
        flag = "'A'" if status == "warn" else "'R'"
        pred = f"l_returnflag = {flag}"
        name = str(r.randrange(0, 7))
        if scope == "named":
            pred = f"l_partkey % 7 = {name} AND {pred}"
        return ({"family": "checks", "scope": scope, "name": name,
                 "status": status}, "o_orderkey IN " + LIN.format(pred))
    raise ValueError(fam)


BREAKDOWN_FIELDS = ["o_orderstatus", "o_orderpriority"]


def _search_spec(r, fams):
    clauses, preds = [], []
    for f in fams:
        c, sql = _clause(f, r)
        clauses.append(c)
        preds.append(sql)
    old = r.random() < 0.3
    if old:
        preds.append("new_version IS NULL")
    return {"clauses": clauses, "suppress_old": old}, \
        " AND ".join(f"({p})" for p in preds)


# Every block of ten isolate ops has one op of each of these kinds, in a
# seeded order: a search of each of six clause-family shapes (1 to 6
# clauses, every family present), a breakdown of a seventh shape, a profile
# lookup, a profile match and a registered breakdown.  Seeds vary the order
# and the values, but not the shape of the load, so run-to-run spread
# measures the program and not the draw.
SEARCH_SHAPES = [   # (clause families, sort field, ascending, page)
    (["prov_range"], "o_totalprice", False, 2),
    (["prov_eq", "designation"], "o_orderdate", True, 1),
    (["tag", "count", "prov_eq"], "o_totalprice", False, 1),
    (["status", "seqbin", "prov_range", "designation"], None, True, 1),
    (["checks", "eav", "tag", "prov_text", "count"], "o_orderdate", True, 1),
    (["prov_range", "designation", "status", "seqbin", "checks", "eav"],
     "o_totalprice", False, 1),
]
BREAKDOWN_SHAPE = ["prov_text", "eav"]
ISOLATE_BLOCK = [f"search.{i}" for i in range(len(SEARCH_SHAPES))] + [
    "breakdown", "profile_lookup", "matching_profiles", "registered"]
# registered whole-corpus breakdowns (FieldBreakdown / TwoFieldBreakdown)
REGISTERED_BREAKDOWNS = ["a1_breakdown", "a2_crosstab"]


def _isolate_ops(r, present_keys):
    ops = []
    while len(ops) < OPS_PER_PLAN:
        kinds = list(ISOLATE_BLOCK)
        r.shuffle(kinds)
        for kind in kinds:
            if kind.startswith("search."):
                fams, field, asc, page = SEARCH_SHAPES[int(kind[7:])]
                spec, where = _search_spec(r, fams)
                order = ("" if field is None else
                         f"{field} {'ASC' if asc else 'DESC'}, ") + "o_orderkey"
                spec.update(sort=field, ascending=asc, page=page)
                ops.append({"type": "search", "spec": spec,
                            "sql": f"SELECT o_orderkey FROM entities WHERE "
                                   f"{where} ORDER BY {order} LIMIT 100 "
                                   f"OFFSET {(page - 1) * 100}",
                            "count_sql": "SELECT count(*) FROM entities "
                                         f"WHERE {where}"})
            elif kind == "breakdown":
                spec, where = _search_spec(r, BREAKDOWN_SHAPE)
                field = r.choice(BREAKDOWN_FIELDS)
                ops.append({"type": "breakdown", "spec": spec, "field": field,
                            "sql": f"SELECT {field} AS value, count(*) AS n "
                                   f"FROM entities WHERE {where} GROUP BY 1"})
            elif kind == "registered":
                ops.append({"type": r.choice(REGISTERED_BREAKDOWNS),
                            "registered": True})
            elif kind == "profile_lookup":
                loci = r.sample(range(1, 8), r.randint(1, 2))
                des = {str(l): [str(r.randrange(0, SIZES["supplier"]))
                                for _ in range(3)] for l in loci}
                ops.append({"type": "profile_lookup", "designations": des})
            else:
                ops.append({"type": "matching_profiles",
                            "isolate": int(r.choice(present_keys)),
                            "threshold": r.randint(2, 4)})
            ops[-1]["mix_kind"] = kind
    return ops


# Op kinds per block of each stream (an op's ``mix_kind``): every block has
# this mix, in a seeded order.  An ingest block is one write and its three
# reads.
INGEST_BLOCK = ["write", "hybrid_search", "hybrid_search", "probe"]
MIX = {"isolate_search": collections.Counter(ISOLATE_BLOCK),
       "corpus_ingest": collections.Counter(INGEST_BLOCK)}
BLOCK = {w: sum(m.values()) for w, m in MIX.items()}


def _ingest_ops(r, n_batches, base_ids, texts):
    """One write, then three reads (two searches and a probe, in a seeded
    order), per delta batch.
    """
    ops = []
    for b in range(n_batches):
        ops.append({"type": "write", "batch": b})
        reads = INGEST_BLOCK[1:]
        r.shuffle(reads)
        for kind in reads:
            if kind == "hybrid_search":
                ops.append({"type": kind, "terms": r.sample(VOCAB, 3),
                            "query_vec": int(r.choice(base_ids))})
            else:
                src = int(r.choice(base_ids))
                ops.append({"type": kind, "text": texts[src], "source": src,
                            "probe_id": -1 - len(ops)})
    return ops


def make_plan(workload, seed, data_dir):
    """The op stream for ``workload`` over the corpus at ``data_dir``."""
    r = random.Random(f"{workload}:{seed}")
    if workload == "isolate_search":
        li = pq.read_table(f"{data_dir}/lineitem.parquet",
                           columns=["l_orderkey"])
        present = np.unique(li.column("l_orderkey").to_numpy())
        ops = _isolate_ops(r, present.tolist())
    elif workload == "corpus_ingest":
        base = pq.read_table(f"{data_dir}/ingest_base.parquet")
        batches = pq.read_table(f"{data_dir}/ingest_docs.parquet",
                                columns=["batch"]).column("batch")
        n_batches = int(np.max(batches.to_numpy())) + 1
        texts = pq.read_table(f"{data_dir}/documents.parquet",
                              columns=["text"]).column("text").to_pylist()
        ops = _ingest_ops(r, n_batches,
                          base.column("doc_id").to_numpy().tolist(), texts)
    else:
        raise ValueError(f"unknown workload {workload}")
    for i, op in enumerate(ops):
        op["id"] = i
        op.setdefault("mix_kind", op["type"])
    return ops
