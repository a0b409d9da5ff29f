"""Seeded input generators for the benchmark. No downloads; the same
(seed, size) always gives byte-identical files.

- ``arxiv``: an arXiv-metadata-shaped JSONL with all 14 fields of the real
  dump, plus the Crossref fixture (doi -> type, n_cites, journal_issn), the
  CWTS journal table and the names -> gender table.
- ``relational``: the eight TPC-H-shaped tables (region, nation, customer,
  supplier, part, orders, lineitem, events) with the column types and value
  ranges of the repo's test fixtures, at scale factor ``sf``.
"""
import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Share of raw records that carry a DOI: 1,077,226 of 2,146,946 in the dump.
DOI_SHARE = 1077226 / 2146946
# Primary-domain mix. The dump is mostly physics and maths; computer science
# is the domain the pipeline keeps, so it gets a share large enough that the
# gold tables stay non-trivial at benchmark sizes.
DOMAINS = [("cs", 0.30), ("physics", 0.45), ("math", 0.25)]
CS_SUB = ["AI", "LG", "CL", "CV", "DS", "DB", "DC", "IR", "NE", "SE", "PL", "CR",
          "IT", "LO", "NI", "RO", "SI", "SY", "HC", "GT", "CC", "CG", "DM", "MA"]
PHYS = ["hep-th", "hep-ph", "cond-mat.stat-mech", "cond-mat.mes-hall", "astro-ph",
        "quant-ph", "gr-qc", "physics.soc-ph", "physics.comp-ph", "physics.data-an"]
MATH = ["math.OC", "math.PR", "math.ST", "math.CO", "math.NA", "math.AP", "stat.ML"]
WORK_TYPES = [("journal-article", 0.62), ("proceedings-article", 0.2),
              ("book-chapter", 0.08), ("posted-content", 0.06), ("report", 0.04)]
LAST = ["Smith", "Müller", "García", "Dvořák", "Łukasiewicz", "Nguyễn", "Öztürk",
        "Kowalski", "Johansson", "Rossi", "Schäfer", "Novák", "Fernández", "Jensen",
        "Petrović", "Kim", "Wang", "Zhang", "Li", "Wu", "Xu", "Ng", "Brown", "Dubois",
        "Bergström", "Sørensen", "Açıkgöz", "O'Neil", "van der Berg", "Ferreira",
        "Yilmaz", "Tanaka", "Sato", "Ivanov", "Kovačević", "Horváth", "Lefèvre"]
FIRST = [("Anna", "female"), ("José", "male"), ("Zoë", "female"), ("Jürgen", "male"),
         ("Łucja", "female"), ("François", "male"), ("Ines", "female"), ("Wei", "male"),
         ("Maria", "female"), ("John", "male"), ("Søren", "male"), ("Elif", "female"),
         ("Hiroshi", "male"), ("Olga", "female"), ("Pavel", "male"), ("Chloé", "female"),
         ("Ahmed", "male"), ("Fatima", "female"), ("Lars", "male"), ("Ngoc", "female"),
         ("Y.", "male"), ("J.", "male")]
SUFFIX = ["", "ski", "son", "ová", "er", "ez", "ini", "sen", "escu", "ić", "ard", "ő"]
MIDDLE = ["", "", "", "", "A.", "J.-P.", "Maria", "K."]
WORDS = ("learning graph neural network model data query distributed scalable "
         "optimal bound algorithm estimation quantum field theory random matrix "
         "stochastic process language translation retrieval index storage stream "
         "convex sparse robust adaptive inference kernel spectral entropy channel "
         "protocol privacy secure robot control planning vision image segmentation "
         "dynamics equilibrium topology manifold lattice theorem proof analysis").split()


def _pick(r, weighted):
    u, acc = r.random(), 0.0
    for v, w in weighted:
        acc += w
        if u < acc:
            return v
    return weighted[-1][0]


def _issn(i):
    return f"{1000 + i * 7 % 9000:04d}-{(i * 131) % 10000:04d}"


def arxiv(out_dir, seed, n):
    """Write arxiv.jsonl, crossref.parquet, cwts.parquet and
    names_genders.parquet under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(seed)
    n_journals = max(20, n // 200)
    n_authors = max(50, n // 2)
    # Zipf-like author popularity so authors share papers
    weights = [1.0 / (i + 1) ** 0.9 for i in range(n_authors)]
    cum = np.cumsum(weights)
    cum /= cum[-1]
    authors = []
    for i in range(n_authors):
        # base x two suffixes: distinct surnames for the first len(LAST) *
        # len(SUFFIX)**2 authors; the bare short bases (Li, Wu, Xu, Ng) give
        # the dump's too-short author ids
        q = i // len(LAST)
        last = LAST[i % len(LAST)] + SUFFIX[q % len(SUFFIX)] + SUFFIX[q // len(SUFFIX) % len(SUFFIX)]
        first, _ = FIRST[r.randrange(len(FIRST))]
        authors.append((last, first, MIDDLE[r.randrange(len(MIDDLE))]))
    crossref = {"doi": [], "type": [], "n_cites": [], "journal_issn": []}
    ids = []
    with open(os.path.join(out_dir, "arxiv.jsonl"), "w", encoding="utf-8") as f:
        for i in range(n):
            year = 2007 + r.randrange(17)
            if ids and r.random() < 0.005:
                aid = ids[r.randrange(len(ids))]  # duplicate id, as in the dump
            else:
                aid = f"{year % 100:02d}{1 + r.randrange(12):02d}.{i:05d}"
            ids.append(aid)
            dom = _pick(r, DOMAINS)
            if dom == "cs":
                cats = [f"cs.{c}" for c in r.sample(CS_SUB, 1 + r.randrange(3))]
                if r.random() < 0.15:
                    cats.append(r.choice(PHYS[7:]))
            elif dom == "physics":
                cats = r.sample(PHYS, 1 + r.randrange(2))
            else:
                cats = r.sample(MATH, 1 + r.randrange(2))
                if r.random() < 0.2:
                    cats.append(f"cs.{r.choice(CS_SUB)}")
            k = 1 + min(int(r.expovariate(0.45)), 11)
            picked = sorted({int(np.searchsorted(cum, r.random())) for _ in range(k)})
            parsed = [[authors[a][0], (authors[a][1] + " " + authors[a][2]).strip(), ""]
                      for a in picked]
            title_len = 1 if r.random() < 0.03 else 4 + r.randrange(10)
            title = " ".join(r.choice(WORDS) for _ in range(title_len)).capitalize()
            doi = None
            if r.random() < DOI_SHARE:
                doi = f"10.{1000 + r.randrange(9000)}/{aid}.{i}"
                if r.random() < 0.95:  # a few DOIs Crossref does not know
                    crossref["doi"].append(doi)
                    crossref["type"].append(_pick(r, WORK_TYPES))
                    crossref["n_cites"].append(int(r.paretovariate(1.2)) - 1)
                    crossref["journal_issn"].append(_issn(r.randrange(n_journals)))
            created = datetime.datetime(year, 1 + r.randrange(12), 1 + r.randrange(28),
                                        r.randrange(24), r.randrange(60), r.randrange(60))
            rec = {
                "id": aid,
                "submitter": f"{parsed[0][1]} {parsed[0][0]}",
                "authors": ", ".join(f"{p[1]} {p[0]}" for p in parsed),
                "title": title,
                "comments": f"{5 + r.randrange(40)} pages, {r.randrange(12)} figures"
                if r.random() < 0.6 else None,
                "journal-ref": f"J. {r.choice(WORDS).capitalize()} {r.randrange(100)} ({year})"
                if r.random() < 0.35 else None,
                "doi": doi,
                "report-no": f"REP-{r.randrange(10**6)}" if r.random() < 0.05 else None,
                "categories": " ".join(cats),
                "license": "http://arxiv.org/licenses/nonexclusive-distrib/1.0/"
                if r.random() < 0.5 else None,
                "abstract": "  " + " ".join(r.choice(WORDS) for _ in range(110 + r.randrange(80))) + ".\n",
                "versions": [{"version": f"v{v + 1}",
                              "created": created.strftime("%a, %d %b %Y %H:%M:%S GMT")}
                             for v in range(1 + r.randrange(3))],
                "update_date": f"{year}-{1 + r.randrange(12):02d}-{1 + r.randrange(28):02d}",
                "authors_parsed": parsed,
            }
            f.write(json.dumps(rec, ensure_ascii=False) + "\n")
    pq.write_table(pa.table({
        "doi": pa.array(crossref["doi"], pa.string()),
        "type": pa.array(crossref["type"], pa.string()),
        "n_cites": pa.array(crossref["n_cites"], pa.int32()),
        "journal_issn": pa.array(crossref["journal_issn"], pa.string())}),
        os.path.join(out_dir, "crossref.parquet"))
    cw = {"source_title": [], "print_issn": [], "electronic_issn": [], "snip": [], "year": []}
    for j in range(n_journals):
        cw["source_title"].append(f"Journal of {WORDS[j % len(WORDS)].capitalize()} {j}")
        # about a tenth list the ISSN only as electronic, so the print join misses
        cw["print_issn"].append(_issn(j) if r.random() < 0.9 else None)
        cw["electronic_issn"].append(_issn(j))
        cw["snip"].append(round(r.uniform(0.1, 4.0), 3))
        cw["year"].append(2021)
    pq.write_table(pa.table({
        "source_title": pa.array(cw["source_title"], pa.string()),
        "print_issn": pa.array(cw["print_issn"], pa.string()),
        "electronic_issn": pa.array(cw["electronic_issn"], pa.string()),
        "snip": pa.array(cw["snip"], pa.float64()),
        "year": pa.array(cw["year"], pa.int32())}),
        os.path.join(out_dir, "cwts.parquet"))
    clean = [("Jose", "male"), ("Zoe", "female"), ("Jurgen", "male"), ("Lucja", "female"),
             ("Francois", "male"), ("Chloe", "female"), ("Soren", "male")]
    names = [(n.replace(".", ""), g) for n, g in FIRST if not n.endswith(".")] + clean
    pq.write_table(pa.table({
        "first_name": pa.array([x for x, _ in names], pa.string()),
        "alph_value": pa.array([x[0] for x, _ in names], pa.string()),
        "gender": pa.array([g for _, g in names], pa.string()),
        "prob": pa.array([round(0.6 + 0.4 * r.random(), 3) for _ in names], pa.float64())}),
        os.path.join(out_dir, "names_genders.parquet"))


def relational(out_dir, seed, sf):
    """Write the eight TPC-H-shaped tables as parquet under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(seed)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def pick(values, n):
        return pa.array(np.array(values, dtype=object)[g.integers(0, len(values), n)], pa.string())

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_ev, n_users = int(1500000 * sf), int(1000000 * sf), max(10, int(15000 * sf))
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    noun = ["widget", "bolt", "gear", "ring", "plate", "rod", "gizmo", "anvil"]
    names = [f"{a} {b}" for a in adj for b in noun]
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in g.integers(1, 26, n_part)]),
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(price)})
    epoch = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(86400 * 10**6, "us")
    odate = epoch + g.integers(0, 2404, n_ord) * day
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["P", "O", "F"], n_ord),
        "o_totalprice": pa.array(np.round(g.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = g.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = np.arange(n_li) - starts + 1
    pkey = g.integers(0, n_part, n_li)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pkey] * g.uniform(1.0, 2.3, n_li), 2)),
        "l_discount": pa.array(g.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pick(["R", "A", "N"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": pa.array(odate[okey] + g.integers(1, 122, n_li) * day, pa.timestamp("us"))})
    span_us = 30 * 86400 * 10**6
    ts = np.datetime64("2024-01-01", "us") + np.sort(g.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": pa.array(np.round(g.uniform(0.01, 490.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)])})
