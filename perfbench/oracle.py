"""Output checks: every op's result against a reference computed apart from
the program, untimed, after the harness has exited.

* ``isolate_search`` -- DuckDB runs the reference-shaped SQL the generator
  wrote for each spec (``... AND o_orderkey IN (SELECT ...)``, the shape of
  the reference's ``IsolateQueryPage._run_query``) over the same files; the
  page of keys and the total must match exactly.  Profile lookups and
  matches run against a DuckDB replay of the profile warehouse.
* registered queries (the whole-corpus breakdowns of ``isolate_search``) --
  the first result of each query is compared with the DuckDB replay of
  ``SparkEntry.oracleSql`` under the comparison rules of
  ``tools/check_oracle.py`` (column names, row count, sorted values, 1e-9 on
  numbers); every later run of that query must carry the same digest.
* ``corpus_ingest`` -- replayed op by op in Python over the live corpus.  A
  write must admit exactly the batch's documents whose word-bigram Jaccard
  against every indexed document is below the near-dup threshold (the fresh
  documents; never the exact copies of base documents), and at the end the
  appended MinHash index must equal a fresh build over base and admitted
  deltas while the IVF index holds exactly the live ids.  A hybrid search
  must return the BM25 top 20 of the live corpus, ANN neighbours that are
  live, carry their true cosine and come in cosine order, and the
  reciprocal-rank fusion of the two.  A probe that copies an indexed
  document must be flagged with that document as its best match.

A mismatch fails the op; it is never dropped.
"""
import collections
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import SIZES

NLOCI = 7
# the ingest workload's parameters (CorpusIngest in Workloads.scala)
MIN_JACCARD = 0.1
LEX_K, ANN_K, FUSED_K, RRF_C = 20, 20, 10, 60
BM25_K1, BM25_B = 1.2, 0.75


def check(workload, plan, out, data, work):
    """{op id: True/False} for every op the harness ran."""
    ops = {op["id"]: op for op in plan["ops"]}
    if workload == "isolate_search":
        ok = _isolate(ops, out, plan["data_dir"], work)
    else:
        ok = _ingest(ops, plan["warmup"], out, plan["data_dir"])
    return {r["id"]: ("error" not in r) and ok.get(r["id"], False)
            for r in out["ops"]}


def _isolate(ops, out, data, work):
    con = duckdb.connect()
    con.execute("CREATE VIEW entities AS SELECT * FROM "
                f"read_parquet('{data}/orders_layout/*.parquet')")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{data}/lineitem.parquet'")
    cols = ", ".join(
        f"coalesce(min(CASE WHEN l_linenumber = {i} THEN "
        f"CAST(l_suppkey AS VARCHAR) END), '0') AS p{i}"
        for i in range(1, NLOCI + 1))
    con.execute(f"CREATE TABLE wh AS SELECT l_orderkey, {cols} "
                "FROM lineitem GROUP BY l_orderkey")
    ok = _registered([r for r in out["ops"] if ops[r["id"]].get("registered")],
                     out, data, work)
    for r in out["ops"]:
        if "result" not in r or ops[r["id"]].get("registered"):
            continue
        op, res = ops[r["id"]], r["result"]
        if op["type"] == "search":
            page = [x[0] for x in con.execute(op["sql"]).fetchall()]
            total = con.execute(op["count_sql"]).fetchone()[0]
            ok[r["id"]] = res["page"] == page and res["total"] == total
        elif op["type"] == "breakdown":
            want = sorted([v, n] for v, n in con.execute(op["sql"]).fetchall())
            ok[r["id"]] = sorted(res["groups"]) == want
        else:
            if op["type"] == "profile_lookup":
                where = " AND ".join(
                    f"p{pos} IN ({', '.join(repr(v) for v in vals)})"
                    for pos, vals in op["designations"].items())
            else:
                t = con.execute(f"SELECT * FROM wh WHERE l_orderkey = "
                                f"{op['isolate']}").fetchone()[1:]
                shared = " + ".join(f"(p{i + 1} = {t[i]!r})::INT"
                                    for i in range(NLOCI))
                where = f"{shared} >= {NLOCI - op['threshold']}"
            want = [x[0] for x in con.execute(
                f"SELECT l_orderkey FROM wh WHERE {where} ORDER BY 1").fetchall()]
            ok[r["id"]] = res["keys"] == want
    return ok


def same_frame(spark_df, oracle_df):
    """The comparison rules of tools/check_oracle.py: columns by name, row
    count, rows sorted, numbers within 1e-9, everything else as text.
    """
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    o = oracle_df[sorted(oracle_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(o.columns) or len(s) != len(o):
        return False
    if len(s) == 0:
        return True
    ss = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    oo = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    for c in s.columns:
        a, b = ss[c], oo[c]
        try:
            if str(a.dtype).startswith("datetime") or \
                    str(b.dtype).startswith("datetime"):
                a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
            a2 = pd.to_numeric(a, errors="raise")
            b2 = pd.to_numeric(b, errors="raise")
            eq = ((a2 - b2).abs() < 1e-9) | (a2.isna() & b2.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            return False
    return True


def _registered(records, out, data, work):
    """Checks for ops that run a registered query by name."""
    con = duckdb.connect()
    for f in glob.glob(f"{data}/*.parquet"):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    results = f"{work}/state/results"
    oracles = out["finish"]["oracle_sql"]
    first, query_ok = {}, {}
    for r in records:
        if "result" in r and r["type"] not in first:
            first[r["type"]] = r["result"]
    for name in first:
        files = glob.glob(f"{results}/{name}/*.parquet")
        got = pd.concat([pq.read_table(f).to_pandas() for f in files]) \
            if files else pd.DataFrame()
        if name in oracles:
            try:
                query_ok[name] = same_frame(got, con.sql(oracles[name]).df())
            except duckdb.Error:
                query_ok[name] = False
        else:   # no value oracle registered: rows-only, as check_oracle.py does
            query_ok[name] = len(got) == first[name]["rows"]
    return {r["id"]: query_ok.get(r["type"], False) and
            r.get("result") == first.get(r["type"])
            for r in records}


def _ingest(ops, warmup, out, data):
    fin = out["finish"]
    index_ok = bool(fin.get("append_equals_rebuild")) and \
        bool(fin.get("ivf_ids_match"))
    live = IngestReplay(data)
    for op in warmup:
        if op["type"] == "write":
            live.write(op["batch"])
    ok = {}
    for r in out["ops"]:
        op, res = ops[r["id"]], r.get("result")
        if op["type"] == "write":
            want = live.write(op["batch"])
            ok[r["id"]] = index_ok and res is not None and \
                res["admitted"] == want
        elif res is None:
            ok[r["id"]] = False
        elif op["type"] == "hybrid_search":
            ok[r["id"]] = live.search_ok(op, res)
        else:
            ok[r["id"]] = len(res) == 1 and res[0]["is_dup"] and \
                res[0]["best_match_id"] == op["source"]
    return ok


def _bigrams(text):
    w = text.lower().split()
    return set(zip(w, w[1:]))


class IngestReplay:
    """The live corpus of the ingest workload, replayed write by write."""

    def __init__(self, data):
        docs = pq.read_table(f"{data}/documents.parquet",
                             columns=["doc_id", "text"]).to_pydict()
        emb = pq.read_table(f"{data}/embeddings.parquet",
                            columns=["vec_id", "embedding"]).to_pydict()
        self.delta = pq.read_table(f"{data}/ingest_docs.parquet").to_pandas()
        dv = pq.read_table(f"{data}/ingest_vecs.parquet").to_pydict()
        self.vecs = dict(zip(emb["vec_id"], emb["embedding"]))
        self.delta_vecs = dict(zip(dv["vec_id"], dv["embedding"]))
        base = pq.read_table(f"{data}/ingest_base.parquet") \
            .column("doc_id").to_pylist()
        text = dict(zip(docs["doc_id"], docs["text"]))
        self.texts, self.live_vecs = {}, {}
        self.postings = collections.defaultdict(set)
        self.shingles = {}
        for i in base:
            self._index(i, text[i], self.vecs[i])

    def _index(self, i, text, vec):
        self.texts[i] = text
        self.live_vecs[i] = np.asarray(vec, dtype=np.float64)
        self.shingles[i] = _bigrams(text)
        for g in self.shingles[i]:
            self.postings[g].add(i)

    def _max_jaccard(self, text):
        mine = _bigrams(text)
        shared = collections.Counter(
            j for g in mine for j in self.postings.get(g, ()))
        return max((n / (len(mine) + len(self.shingles[j]) - n)
                    for j, n in shared.items()), default=0.0)

    def write(self, batch):
        """Admit one delta batch; return the admitted ids, sorted."""
        rows = self.delta[self.delta["batch"] == batch] \
            .sort_values("arrival")
        first = rows.drop_duplicates("text")   # first seen by content
        admitted = [int(i) for i, t in zip(first["doc_id"], first["text"])
                    if self._max_jaccard(t) < MIN_JACCARD]
        for i in admitted:
            self._index(i, rows.loc[rows["doc_id"] == i, "text"].iloc[0],
                        self.delta_vecs[i])
        if any(i >= SIZES["documents"] for i in admitted):
            raise AssertionError("an exact copy of a base document would "
                                 "be admitted: the inputs are malformed")
        return sorted(admitted)

    def bm25(self, terms):
        """TextAnalysis.bm25TopK + rankByScore, term by term in the same
        floating-point order: ids by (score desc, id asc), top LEX_K.
        """
        toks = {i: t.lower().split() for i, t in self.texts.items()}
        n = len(toks)
        avgdl = float(sum(len(w) for w in toks.values())) / n
        terms = sorted({t.lower() for t in terms})
        tf = {t: {i: w.count(t) for i, w in toks.items() if t in w}
              for t in terms}
        scores = {}
        for t in terms:   # sorted-term fold, as the program sums
            idf = float((2 * n + 2).bit_length()
                        - (2 * len(tf[t]) + 1).bit_length())
            for i, f in tf[t].items():
                dl = float(len(toks[i]))
                s = idf * f * (BM25_K1 + 1) / (
                    f + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))
                scores[i] = scores.get(i, 0.0) + s
        return sorted(scores, key=lambda i: (-scores[i], i))[:LEX_K]

    def search_ok(self, op, res):
        lex = [x[0] for x in res["lex"]]
        ann = res["ann"]
        q = np.asarray(self.vecs[op["query_vec"]], dtype=np.float64)
        cos = []
        for i, c in ann:
            if i not in self.live_vecs or i == op["query_vec"]:
                return False
            v = self.live_vecs[i]
            cos.append(float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))))
        ann_ok = len(ann) == ANN_K and \
            all(abs(a - c) < 1e-6 for a, (_, c) in zip(cos, ann)) and \
            all(a >= b - 1e-12 for a, b in zip(cos, cos[1:]))
        rrf = collections.defaultdict(float)
        for ids in ([x[0] for x in ann], lex):   # "ann" < "bm25"
            for rank, i in enumerate(ids, 1):
                rrf[i] += 1.0 / (RRF_C + rank)
        fused = sorted(rrf, key=lambda i: (-rrf[i], i))[:FUSED_K]
        return ann_ok and lex == self.bm25(op["terms"]) and \
            res["hits"] == fused
