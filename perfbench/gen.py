"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of (workload, seed): the same seed always
writes byte-identical inputs. Tables follow the shape of the engine's
testdata (TESTDATA.md: a TPC-H-ish star schema plus events, documents and
embeddings; one parquet file per table), scaled by `sf` the same way.

Workload inputs:
  qa_longdoc       documents at sf0.1 (5,000 docs, 20 sources); each long
                   document joins one source's documents in seeded order
                   (~75k chars) with one passkey planted at PLANTS seeded
                   offsets, so the map stage keeps enough evidence for the
                   collapse loop to iterate. Beside them, one survey per
                   source, SURVEY_PAPERS papers drawn by seed.
  olap_shared_10x  an sf0.001 corpus replicated 10x with tools/gen_scale.py's
                   structure-preserving rules (token-remapped documents,
                   rotated embeddings, offset fact keys, verbatim dimensions);
                   beside it, the base corpus's events, documents and orders
                   split into STREAM_FILES files each for the stream op.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark stream batch table row column key value hash join "
         "group agg sort merge filter scan query window order line part "
         "customer vector big small fast slow index").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
PLANTS = 32
SURVEY_PAPERS = 16
REPLICAS = 10
STREAM_FILES = 2
STREAM_MTIME_S = 1_700_000_000  # file i of a kind gets this mtime + i


def _write(path, table):
    pq.write_table(table, path)


def _ts_us(year, month, day):
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us")
               .astype(np.int64))


def relational(rng, sf):
    """region … lineitem as pyarrow tables."""
    n_cust = max(int(150000 * sf), 15)
    n_supp = max(int(10000 * sf), 5)
    n_part = max(int(200000 * sf), 20)
    n_ord = max(int(1500000 * sf), 150)
    n_line = 4 * n_ord
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["large", "hot", "blue", "small", "red", "new", "cold",
                    "green"])
    noun = np.array(["ring", "bolt", "gizmo", "rod", "anvil", "plate", "gear",
                     "widget"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "PROMO", "STANDARD",
                      "MEDIUM"])
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    d0, d1 = _ts_us(1995, 1, 1) // 86400000000, _ts_us(2001, 8, 1) // 86400000000
    odays = rng.integers(d0, d1 + 1, n_ord) * 86400000000
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 450000.0, n_ord), 2),
        "o_orderdate": pa.array(odays, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lpart = rng.integers(0, n_part, n_line)
    s1 = _ts_us(2001, 12, 31) // 86400000000
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (lpart % 1000) * 0.1), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(rng.integers(d0, s1 + 1, n_line) * 86400000000,
                               pa.timestamp("us"))})
    return out


def events(rng, sf):
    n = max(int(1000000 * sf), 100)
    n_users = max(int(15000 * sf), 15)
    t0, t1 = _ts_us(2024, 1, 1), _ts_us(2024, 1, 31)
    ts = np.sort(rng.integers(t0, t1, n))
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.exponential(60.0, n), 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n):
    """Short bag-of-words documents over a small vocabulary, with seeded
    near-duplicate (one word changed) and exact-duplicate families."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(
                vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        elif i > 10 and r < 0.022:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, N_SOURCES, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    v = centers[labels] * 0.2 + rng.normal(0.0, 1.0, (n, dim))
    dup = rng.random(n) < 0.01  # near-duplicate vectors of an earlier row
    for i in np.nonzero(dup)[0]:
        if i > 0:
            v[i] = v[int(rng.integers(0, i))] + rng.normal(0.0, 0.01, dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True) * 0.8).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def corpus(rng, sf):
    t = relational(rng, sf)
    t["events"] = events(rng, sf)
    t["documents"] = documents(rng, 5000 if sf >= 0.1 else 500)
    t["embeddings"] = embeddings(rng, 2000 if sf >= 0.1 else 500)
    return t


def replicate(tables, factor, rng):
    """tools/gen_scale.py's structure-preserving N x replication, in memory:
    dimensions verbatim, fact keys offset per copy (one shared orderkey
    offset for orders and lineitem), document copy k remaps every token
    w -> w~k, embedding copy k applies a seeded orthogonal rotation. One
    row group per copy."""
    out = {n: tables[n] for n in ("region", "nation", "customer",
                                        "supplier", "part")}
    order_off = tables["orders"]["o_orderkey"].to_numpy().max() + 1

    def offset(t, cols, k):
        for c, off in cols:
            i = t.schema.get_field_index(c)
            t = t.set_column(i, t.schema.field(c), pa.array(
                t[c].to_numpy() + k * off, t.schema.field(c).type))
        return t

    ev = tables["events"]
    ev_offs = [("event_id", ev["event_id"].to_numpy().max() + 1),
               ("user_id", ev["user_id"].to_numpy().max() + 1)]
    docs = tables["documents"]
    doc_off = docs["doc_id"].to_numpy().max() + 1
    emb = tables["embeddings"]
    vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
    vec_off = emb["vec_id"].to_numpy().max() + 1
    out.update(orders=[], lineitem=[], events=[], documents=[], embeddings=[])
    for k in range(factor):
        out["orders"].append(offset(tables["orders"], [("o_orderkey", order_off)], k))
        out["lineitem"].append(offset(tables["lineitem"], [("l_orderkey", order_off)], k))
        out["events"].append(offset(ev, ev_offs, k))
        if k == 0:
            out["documents"].append(docs)
            out["embeddings"].append(emb)
            continue
        texts = [" ".join(w + f"~{k}" for w in s.split(" "))
                 for s in docs["text"].to_pylist()]
        out["documents"].append(pa.table({
            "doc_id": pa.array(docs["doc_id"].to_numpy() + k * doc_off, pa.int64()),
            "text": texts, "lang": docs["lang"], "source": docs["source"],
            "n_chars": pa.array([len(s) for s in texts], pa.int64())}))
        q, _ = np.linalg.qr(rng.normal(0.0, 1.0, (vecs.shape[1], vecs.shape[1])))
        out["embeddings"].append(pa.table({
            "vec_id": pa.array(emb["vec_id"].to_numpy() + k * vec_off, pa.int64()),
            "embedding": pa.array(list((vecs @ q.T).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": emb["label"]}))
    return out


def write_tables(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, parts in tables.items():
        parts = parts if isinstance(parts, list) else [parts]
        with pq.ParquetWriter(f"{out}/{name}.parquet", parts[0].schema) as w:
            for p in parts:
                w.write_table(p)


def long_documents(rng, docs):
    """One long document per source with the passkey planted PLANTS times."""
    src = np.array(docs["source"].to_pylist())
    text = np.array(docs["text"].to_pylist(), dtype=object)
    rows, expect = [], {}
    for s in sorted(set(src), key=lambda x: int(x[3:])):
        idx = np.nonzero(src == s)[0]
        body = " ".join(text[rng.permutation(idx)])
        key = "pk-%s-%08x" % (s, int(rng.integers(0, 2**32)))
        cuts = np.sort(rng.choice(len(body), PLANTS, replace=False))
        pieces, prev = [], 0
        for c in cuts:
            pieces.append(body[prev:c])
            pieces.append(f" ANSWER[{key}] ")
            prev = c
        pieces.append(body[prev:])
        doc_id = int(s[3:])
        rows.append((doc_id, "What is the passkey?", "".join(pieces), len(idx)))
        expect[str(doc_id)] = {"answer": key, "source_docs": int(len(idx))}
    t = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "question": [r[1] for r in rows],
        "text": [r[2] for r in rows]})
    return t, expect


def surveys(rng, docs):
    src = np.array(docs["source"].to_pylist())
    ids = docs["doc_id"].to_numpy()
    text = docs["text"].to_pylist()
    paper_t = pa.struct([("title", pa.string()), ("txt", pa.string())])
    rows, expect = [], {}
    for s in sorted(set(src), key=lambda x: int(x[3:])):
        idx = np.nonzero(src == s)[0]
        pick = rng.choice(idx, min(SURVEY_PAPERS, len(idx)), replace=False)
        papers = [{"title": f"doc {ids[i]}", "txt": text[i]} for i in pick]
        rows.append((s, f"Survey of {s}", papers))
        expect[s] = {"n_papers": len(papers), "cite_ratio": 1.0}
    t = pa.table({
        "survey_id": [r[0] for r in rows],
        "title": [r[1] for r in rows],
        "papers": pa.array([r[2] for r in rows], pa.list_(paper_t))})
    return t, expect


def stream_splits(tables, out):
    """Split events, documents and orders into STREAM_FILES files each, in
    id order, with increasing mtimes: a file source reads them in mtime
    order, so the packing consumer sees the feed's append order. The first
    events file carries the bare table name that Streams.eventsStream probes
    for the timestamp encoding. Returns the rows written."""
    os.makedirs(out, exist_ok=True)
    rows = 0
    for kind in ("events", "documents", "orders"):
        t = tables[kind]
        per = -(-t.num_rows // STREAM_FILES)
        for i in range(STREAM_FILES):
            path = f"{out}/{kind}.parquet" if i == 0 else f"{out}/{kind}-{i:05d}.parquet"
            part = t.slice(i * per, per)
            _write(path, part)
            os.utime(path, (STREAM_MTIME_S + i, STREAM_MTIME_S + i))
            rows += part.num_rows
    return rows


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`; returns the
    input description recorded with each run."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    os.makedirs(out, exist_ok=True)
    info = {"workload": workload, "seed": seed}
    if workload == "qa_longdoc":
        docs = documents(rng, 5000)
        t, expect = long_documents(rng, docs)
        _write(f"{out}/longdocs.parquet", t)
        json.dump(expect, open(f"{out}/expect.json", "w"))
        s, survey_expect = surveys(rng, docs)
        _write(f"{out}/surveys.parquet", s)
        json.dump(survey_expect, open(f"{out}/survey_expect.json", "w"))
        info.update(long_docs=t.num_rows,
                    chars_per_doc=int(np.mean([len(x) for x in t["text"].to_pylist()])),
                    surveys=s.num_rows,
                    papers=sum(e["n_papers"] for e in survey_expect.values()))
    elif workload == "olap_shared_10x":
        base = corpus(rng, 0.001)
        tables = replicate(base, REPLICAS, rng)
        write_tables(tables, f"{out}/tables")
        info.update(replicas=REPLICAS, base_sf=0.001, rows={
            n: sum(p.num_rows for p in (v if isinstance(v, list) else [v]))
            for n, v in tables.items()})
        info.update(stream_files=3 * STREAM_FILES,
                    stream_rows=stream_splits(base, f"{out}/stream"))
    else:
        raise ValueError(f"unknown workload {workload}")
    input_bytes = 0
    for root, _, files in os.walk(out):
        input_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    info["input_mb"] = round(input_bytes / 1e6, 3)
    json.dump(info, open(f"{out}/input.json", "w"))
    return info


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
