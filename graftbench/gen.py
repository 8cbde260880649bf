#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

    python3 graftbench/gen.py --workload W --seed N --size Z --out DIR

Every input is drawn from numpy's PCG64 seeded with --seed, so the same
(workload, seed, size) always gives byte-identical files. --size scales
the row counts linearly. The shapes follow the repository's scale
model (scripts/gen_sf1.py):

  medallion_etl  raw/part-*.csv: iso-8859-1, ';'-delimited, headerless,
                 CRLF line ends, values padded with spaces, empty and
                 blank strings, quoted values holding ';' and '""'.
                 expected.parquet: the same rows as the reference clean
                 (trim spaces, empty -> NULL, parity segment) must give
                 them, for the refined read-back check.
  corpus_build   documents.parquet: a base replica with planted exact
                 and near duplicates and short docs, then `size`
                 replicas whose tokens carry a "_r<k>" suffix and whose
                 doc_id is shifted, so duplicate groups grow linearly
                 with size instead of turning into cliques.
  query_serve    the star schema the Relational queries read (region,
                 nation, customer, supplier, part, orders, lineitem),
                 documents for BM25, and unit-norm embeddings for kNN.

The output directory is written to a temporary name and renamed, with a
manifest.json (rows and bytes per input) written last, so a cache hit
is always a complete set.
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 10_000_000
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.36, 0.16, 0.16, 0.16, 0.16]


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- documents

def base_documents(rng: np.random.Generator, n: int) -> list:
    """(text, lang, source) rows of one replica. ~0.5% exact copies and
    ~3% one-word edits of an earlier original doc; lengths 8..100 words,
    so the quality gate (20 words, 120 chars) really drops rows. Copies
    are only ever made of originals, so every duplicate cluster is a
    star and connected components converge in the same number of rounds
    whatever the seed."""
    vocab = np.array(VOCAB)
    rows, originals = [], []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.005:
            text = rows[originals[int(rng.integers(0, len(originals)))]][0]
        elif i > 10 and u < 0.035:
            words = rows[originals[int(rng.integers(0, len(originals)))]][0].split(" ")
            j = int(rng.integers(0, len(words)))
            words[j] = str(vocab[rng.integers(0, len(vocab))])
            text = " ".join(words)
        else:
            text = " ".join(vocab[rng.integers(0, len(vocab),
                                                int(rng.integers(8, 101)))])
            originals.append(i)
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        rows.append((text, lang, f"src{int(rng.integers(0, 20))}"))
    return rows


def documents(rng: np.random.Generator, base: int, replicas: int) -> pa.Table:
    rows = base_documents(rng, base)
    ids, texts, langs, sources = [], [], [], []
    for r in range(replicas):
        for i, (text, lang, source) in enumerate(rows):
            if r:
                text = " ".join(w + f"_r{r}" for w in text.split(" "))
            ids.append(i + r * KEY_STRIDE)
            texts.append(text)
            langs.append(lang)
            sources.append(source)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# ---------------------------------------------------------------- star schema

def days(rng, n, lo, hi):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def ts(arr) -> pa.Array:
    return pa.array(arr.astype("datetime64[us]"), pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(rng: np.random.Generator, z: float, out: str) -> None:
    n_cust, n_ord = int(15000 * z), int(150000 * z)
    n_part, n_supp = int(20000 * z), max(10, int(1000 * z))
    write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    write_parquet(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    write_parquet(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -999, 9999),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    write_parquet(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -999, 9999),
    }), f"{out}/supplier.parquet")
    adj = np.array(["large", "hot", "blue", "small", "green", "red"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD",
                      "PROMO"])
    write_parquet(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)],
                                          " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2),
    }), f"{out}/part.parquet")
    odate = days(rng, n_ord, "1992-01-01", "2002-01-01")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, n_ord, 900, 500000),
        "o_orderdate": ts(odate),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    write_parquet(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts(np.repeat(odate, lines)
                         + rng.integers(1, 122, n_li).astype("timedelta64[D]")),
    }), f"{out}/lineitem.parquet")


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Ten faint clusters under unit-variance noise, L2-normalized: the
    near-random geometry (top-1 cosine ~0.4) of the repository's test
    corpus, which the ADC candidate budget is calibrated on."""
    centers = rng.normal(0, 0.009, (10, dim))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0, 0.125, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


# ---------------------------------------------------------------- medallion

RAW_COLUMNS = [  # (name, arrow type) of the raw layout, in file order
    ("codigo", pa.int64()), ("razao_social", pa.string()),
    ("nome_fantasia", pa.string()), ("uf", pa.string()),
    ("municipio", pa.string()), ("cnae", pa.int32()),
    ("capital_social", pa.float64()), ("data_abertura", pa.string()),
    ("email", pa.string()),
]
NAME_PARTS = ["Comércio", "Indústria", "Serviços", "Construção", "Alimentação",
              "São", "João", "Maranhão", "Paraná", "Ação", "Técnica",
              "Atacadão", "Metalúrgica", "Elétrica", "Logística", "Saúde"]
CITIES = ["São Paulo", "Belém", "Goiânia", "Maceió", "Florianópolis",
          "Vitória", "Brasília", "Cuiabá", "Macapá", "Jundiaí", "Niterói"]
UFS = ["SP", "PA", "GO", "AL", "SC", "ES", "DF", "MT", "AP", "RJ", "MG"]


def medallion(rng: np.random.Generator, rows: int, files: int, out: str):
    os.makedirs(f"{out}/raw")
    n = rows
    code = np.cumsum(rng.integers(1, 4, n)).tolist()
    parts = rng.integers(0, len(NAME_PARTS), (n, 3)).tolist()
    filial = (rng.random(n) < 0.05).tolist()
    u = rng.random(n).tolist()
    fantasia_part = rng.integers(0, len(NAME_PARTS), n).tolist()
    city = rng.integers(0, len(CITIES), n).tolist()
    cnae = np.where(rng.random(n) < 0.02, -1,
                    rng.integers(111301, 9900000, n)).tolist()
    capital = np.where(rng.random(n) < 0.05, -1,
                       rng.integers(0, 1_000_000_000, n)).tolist()
    opened = (np.datetime64("1970-01-01")
              + rng.integers(0, 19000, n).astype("timedelta64[D]")).astype(str).tolist()
    has_email = (rng.random(n) < 0.5).tolist()
    # five space-padded fields per row: razao, fantasia, uf, municipio, email
    padded = (rng.random((n, 5)) < 0.4).tolist()
    lead = rng.integers(0, 3, (n, 5)).tolist()
    trail = rng.integers(0, 3, (n, 5)).tolist()

    expected = {name: [] for name, _ in RAW_COLUMNS}
    expected["segmento"] = []
    lines = []
    for r in range(n):
        def pad(s, k):
            return " " * lead[r][k] + s + " " * trail[r][k] if padded[r][k] else s
        p0, p1, p2 = parts[r]
        name = f"{NAME_PARTS[p0]} {NAME_PARTS[p1]} {NAME_PARTS[p2]}" + (
            '; "FILIAL" LTDA' if filial[r] else " LTDA")
        fantasia = ("" if u[r] < 0.3 else "   " if u[r] < 0.35
                    else NAME_PARTS[fantasia_part[r]])
        c = city[r]
        cn = "" if cnae[r] < 0 else str(cnae[r])
        cap = "" if capital[r] < 0 else f"{capital[r] // 100}.{capital[r] % 100:02d}"
        email = f"contato{code[r]}@empresa.com.br" if has_email[r] else ""
        raw_name, raw_fantasia, raw_email = pad(name, 0), pad(fantasia, 1), pad(email, 4)
        lines.append(";".join((
            str(code[r]), '"' + raw_name.replace('"', '""') + '"', raw_fantasia,
            pad(UFS[c], 2), pad(CITIES[c], 3), cn, cap, opened[r], raw_email)))
        expected["codigo"].append(code[r])
        expected["razao_social"].append(raw_name.strip(" ") or None)
        expected["nome_fantasia"].append(raw_fantasia.strip(" ") or None)
        expected["uf"].append(UFS[c])
        expected["municipio"].append(CITIES[c])
        expected["cnae"].append(int(cn) if cn else None)
        expected["capital_social"].append(float(cap) if cap else None)
        expected["data_abertura"].append(opened[r])
        expected["email"].append(raw_email.strip(" ") or None)
        expected["segmento"].append("PRIMARIO" if code[r] % 2 else "SECUNDARIO")
    per_file = -(-n // files)
    for f in range(files):
        chunk = lines[f * per_file:(f + 1) * per_file]
        with open(f"{out}/raw/part-{f:04d}.csv", "wb") as fh:
            fh.write(("\r\n".join(chunk) + "\r\n").encode("iso-8859-1"))
    cols = {name: pa.array(expected[name], t) for name, t in RAW_COLUMNS}
    cols["segmento"] = pa.array(expected["segmento"], pa.string())
    write_parquet(pa.table(cols), f"{out}/expected.parquet")


# ---------------------------------------------------------------- entry

def manifest(out: str) -> dict:
    inputs = {}
    for root, _, names in os.walk(out):
        for name in names:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, out)
            entry = {"bytes": os.path.getsize(path)}
            if name.endswith(".parquet"):
                entry["rows"] = pq.read_metadata(path).num_rows
            elif name.endswith(".csv"):
                with open(path, "rb") as fh:
                    entry["rows"] = fh.read().count(b"\n")
            inputs[rel] = entry
    return inputs


def generate(workload: str, seed: int, size: float, out: str) -> dict:
    """Build the inputs of one (workload, seed, size) under `out` unless
    a complete copy is already there; return its manifest."""
    done = f"{out}/manifest.json"
    if os.path.exists(done):
        with open(done) as fh:
            return json.load(fh)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    if workload == "medallion_etl":
        medallion(rng, int(100_000 * size), 4, tmp)
    elif workload == "corpus_build":
        # `size` suffixed replicas of a 1000-doc base
        write_parquet(documents(rng, 1000, max(1, round(size))),
                      f"{tmp}/documents.parquet")
    elif workload == "query_serve":
        star(rng, size, tmp)
        write_parquet(documents(rng, int(20000 * size), 1),
                      f"{tmp}/documents.parquet")
        write_parquet(embeddings(rng, int(20000 * size)),
                      f"{tmp}/embeddings.parquet")
    else:
        raise SystemExit(f"unknown workload {workload}")
    info = {"workload": workload, "seed": seed, "size": size,
            "inputs": manifest(tmp)}
    with open(f"{tmp}/manifest.json", "w") as fh:
        json.dump(info, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    os.rename(tmp, out)
    return info


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    info = generate(a.workload, a.seed, a.size, a.out)
    print(json.dumps({k: v for k, v in info.items() if k != "inputs"}))


if __name__ == "__main__":
    main()
