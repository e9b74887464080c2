"""Randomized differential testing: Spark vs the DuckDB oracle on GENERATED data.

The driver's correctness gate (and tools/parity.py) proves value equality on
one fixed fixture set per scale factor. That leaves a blind spot: a query
pair can agree on the fixtures while disagreeing on data the fixtures never
exercise — ties under LIMIT, empty/unicode/whitespace text, zero-norm
vectors, skewed keys, single-row tables. Round 6's timezone bug was exactly
this class (green only because the CI host was UTC); this tool hunts the
data-shaped siblings of that bug.

It generates the ten engine tables (region nation customer supplier part
orders lineitem events documents embeddings) at the EXACT fixture Arrow
schemas and value conventions (sampled from /root/testdata/sf0.001), under
seeded adversarial profiles, writes them as a drop-in sf_dir, then runs
every oracle-paired catalog entry through tools/parity.py's exact compare.

Profiles
--------
- random : fixture-like domains, fresh draws; referentially intact.
- edge   : empty/whitespace/unicode/huge docs, exact-duplicate docs,
           zero + duplicate embedding vectors, tied timestamps/scores/
           prices (the LIMIT-tie trap), a few dangling foreign keys,
           negative balances, boundary discounts.
- skew   : ~85% of rows share one hot key per table (user, order, lang,
           label) — the AQE/salting story's data shape.
- tiny   : 1-4 rows per table; the off-by-one / empty-group shape.
- const  : every numeric measure CONSTANT (one value per column across
           all rows) — zero-variance groups everywhere, so every
           E[x²]−E[x]² / correlation / z-score / entropy expression
           walks its catastrophic-cancellation and 0/0 path.
- chunk  : document texts adversarial WITHIN the chunker oracles'
           domain (see _chunker_domain_texts) — the t3/t3b/
           stream_incremental_index entries get full VALUE checks here
           (on edge they are domain-exempt, crash-check only).

Every failure is triaged, not auto-judged: a report row says whether row
counts, schema, or values diverged, and the first differing cell. A
divergence means the Spark plan and the ANSI oracle disagree on data that
COULD exist at 100 TB — either the entry's contract needs a total order /
null rule, or the engine has a real bug.

Usage:
    python tools/parity_fuzz.py                      # all profiles, seed 0
    python tools/parity_fuzz.py --profiles edge,tiny --seeds 0,1,2
    python tools/parity_fuzz.py --only text_bm25_topk dedup_exact
    PARITY_FUZZ_JSON=parity_fuzz.json python tools/parity_fuzz.py
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys
import tempfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.parity import TABLES, duck_conn, compare  # noqa: E402

# Oracles whose SQL is PROVABLY exact only on a pinned data domain, with
# the Python operator as the spec outside it. t3/t3b's closed-form chunk
# walk assumes fixture text shape (no newlines/periods/doubled spaces, no
# word piece >= chunk_size — pinned per SF by tests/test_t3b_oracle.py);
# the edge profile deliberately violates that, so there the harness runs
# the Spark side crash-only (the splitter itself is separately
# robustness-tested on EDGE_TEXTS) instead of comparing values.
ORACLE_DOMAIN_VIOLATIONS: dict[str, set[str]] = {
    # boundary-profile docs are >= 460 chars (the 5120-sentence and
    # 5127-word carriers), outside the sectioning pass-through domain
    # the chunk oracles assume — crash-check only there
    "t3_chunk_pipeline": {"edge", "boundary"},
    "t3b_chunk_long_docs": {"edge", "boundary"},
    # same chunker domain: its oracle states chunk counts/length sums
    # via the closed-form section walk; the Spark-side append-delta ≡
    # rebuild invariant (the `match` column) is what the entry pins
    "stream_incremental_index": {"edge", "boundary"},
}

def _chunker_domain_texts(rng, nd: int) -> list[str]:
    """Adversarial texts INSIDE the chunker oracles' stated domain
    (single-spaced ASCII words, no newlines/periods, no word >= 120
    chars, every doc < 460 chars so the 500-char sectioning oracles
    stay pass-through) that drive t3b's 120/20 greedy word-merge walk
    onto its boundary cases: exact-120 windows, overlap tails of
    exactly 19/20/21 chars, max-domain 119-char words the overlap can
    never carry, and 1-char-word streams where the overlap window
    spans ~10 pieces. VERDICT r7 task 7: these entries previously ran
    crash-check-only on the edge profile (whose texts violate the
    domain); this profile value-checks them."""
    crafted = [
        "x" * 119,                                   # max-domain word
        # pieces carry the attached separator, so non-first words max
        # out at 118 chars (119 incl. ' '); a 119-char SECOND word is a
        # 120-char piece = the append-as-is branch, outside the oracle
        # domain (this generator found that edge on its first run)
        "x" * 119 + " " + "y" * 118,                 # two: no overlap fits
        "a" * 60 + " " + "b" * 59,                   # exactly 120: one chunk
        "a" * 60 + " " + "b" * 60,                   # 121: forced split
        "w" * 100 + " " + "v" * 19,                  # cum 100,120: one chunk
        "w" * 100 + " " + "v" * 20,                  # cum 100,121: split,
                                                     #   100-char tail > 20
        "q" * 99 + " " + "r" * 20,                   # exactly 120 again
        "q" * 99 + " " + "r" * 21,                   # 121, tail walk ties
        ("ab " * 40).strip(),                        # 119 of 2-char words
        ("a " * 200).strip(),                        # 399 of 1-char words:
                                                     #   ~10-piece overlaps
        "q" * 19 + " " + "r" * 20 + " " + "s" * 21
        + " " + "t" * 20 + " " + "u" * 19,           # 19/20/21 overlap band
        "z",                                         # 1-char doc
        "ab",                                        # 2-char doc
        "m" * 118 + " " + "n",                       # 120 via 118+1
        "m" * 117 + " " + "n" + " " + "o",           # 121 via tiny tail
    ]
    texts = list(crafted[:nd])
    while len(texts) < nd:
        # random in-domain docs: words of 1..25 chars up to < 460 total
        words, total = [], 0
        for _ in range(int(rng.integers(1, 60))):
            wl = int(rng.integers(1, 26))
            if total + wl + (1 if words else 0) > 455:
                break
            words.append("w" * wl if rng.random() < 0.3
                         else _sentence(rng, 1, 1)[:wl] or "k")
            total += wl + (1 if len(words) > 1 else 0)
        texts.append(" ".join(words) or "k")
    return texts


def _boundary_docs(rng) -> tuple[list[str], list[str]]:
    """Documents for the ``boundary`` profile: group sizes and sums that
    put round(sum/count, d) means exactly ON a rounding-digit half —
    the ROUND8 §12 bug class the r9 migration made integer-exact. A
    revert of any migrated entry splits by 10^-d here (the divergent
    members of each family were real-engine-verified; every exact-half
    input distinguishes HALF_UP-exact code from double-rounding code).

    Blocks (langs isolate the group-keyed entries):
    - xs: ONE doc that text_sentence_stats splits into 5120 sentences
      with an ODD word total (10241 + 2k) — 5120 = 2^10·5 is the
      minimal count whose integer-sum mean can land on a digit-9 half.
    - xd: a 5127-word doc + a (48+2k)-word contiguous copy — an odd
      dup-window count over n_spans = 5120 for dedup_substring.
    - xb: 96 docs whose n_chars multiset drives cur_winsorize to
      lo = 40+c (p05 tie), hi = 51.25+c (p95 gap 1) and a clipped sum
      on the digit-6 half; a constant shift c preserves the residue.
    - xc: the 40-doc curriculum quality lattice (texture here — its
      exact 10-doc-phase boundary only holds standalone and is pinned
      in tests/test_half_boundary.py).
    """
    texts: list[str] = []
    langs: list[str] = []
    # xs — sentence-stats boundary doc
    k = int(rng.integers(0, 200))
    texts.append(
        "x" + " table x" * 5118 + " table x y y" + " y" * (2 * k)
    )
    langs.append("xs")
    # xd — dedup_substring boundary pair
    a_words = [f"w{i:04d}" for i in range(5127)]
    run = 48 + 2 * int(rng.integers(0, 100))
    start = int(rng.integers(0, 5127 - run))
    texts.append(" ".join(a_words))
    texts.append(" ".join(a_words[start : start + run]))
    langs.extend(["xd", "xd"])
    # xb — winsorize boundary block (96 docs, shift-invariant residue)
    c = int(rng.integers(0, 500))
    n_chars = (
        [39 + c] * 4 + [40 + c] * 2 + [50 + c] * 29
        + [51 + c] * 56 + [52 + c] * 5
    )
    texts.extend("z" * v for v in n_chars)
    langs.extend(["xb"] * 96)
    # xc — curriculum lattice texture
    for cc in (13, 14, 15, 16, 17, 18, 27, 34, 35, 36):
        texts.append("b" * (cc - 12) + " c d e f g h")
        langs.append("xc")
    texts.extend(["the of to the of to the"] * 30)
    langs.extend(["xc"] * 30)
    return texts, langs


def _zipf_keys(rng, n: int, domain: int, a: float = 2.0) -> np.ndarray:
    """``n`` keys Zipf(a)-distributed over ``0..domain-1``: rank 1 (the
    head) lands on a seed-chosen hot key that typically owns 40-70% of
    rows at a=2.0 — the shape a 100 TB web corpus actually has (one
    domain, one user, one boilerplate section dominating), vs the
    two-point 85%-one-key mixture of the ``skew`` profile. Ranks past
    the domain wrap (modulo), preserving the heavy head."""
    ranks = rng.zipf(a, n).astype(np.int64)
    perm = rng.permutation(domain)
    return perm[(ranks - 1) % domain]


def _dblbound_events(rng_seed: int) -> "pa.Table":
    """Events for the ``dblbound`` profile: cohort counts that drive
    rel_abtest_ztest's pooled two-proportion z onto a digit-9 half
    (n0=204 even users / 6 converted, n1=211 odd / 76 converted ->
    z = 8.4603373905, within an ulp of ...3905e-9's half — the value on
    which the OLD round(x, 9) idiom demonstrably split the engines;
    tests/test_double_boundary.py pins the literal). The profile
    value-checks the whole catalog on this data, so ANY entry that
    still rounds a composite double with the engine-native round()
    re-fails here if the ztest-family inputs reach it.

    Each user gets 1-3 events with randomized ts/value/props; the
    conversion flag (>= 1 purchase) is pinned per user, and no filler
    event is ever a 'purchase', so (n0, c0, n1, c1) are invariant
    across seeds while every other events consumer sees varied data."""
    rng = _rng(rng_seed, "dblbound-events")
    n0, c0, n1, c1 = 204, 6, 211, 76
    users = [(2 * i, i < c0) for i in range(n0)] + [
        (2 * i + 1, i < c1) for i in range(n1)
    ]
    uid, etype = [], []
    for u, converted in users:
        k = int(rng.integers(1, 4))
        kinds = ["signup", "click", "error", "view"]
        types = [kinds[j] for j in rng.integers(0, 4, k)]
        if converted:
            types[int(rng.integers(0, k))] = "purchase"
        uid.extend([u] * k)
        etype.extend(types)
    ne = len(uid)
    ets = _ts(rng, ne, EPOCH_2024, int(30 * 86400 * 1e6))
    return pa.table(
        {"event_id": pa.array(range(ne), pa.int64()),
         "ts": pa.array(ets, pa.timestamp("us")),
         "user_id": pa.array(uid, pa.int64()),
         "event_type": etype,
         "value": np.round(rng.uniform(0.01, 330, ne), 2),
         "props": [json.dumps({"k": int(k)})
                   for k in rng.integers(0, 100, ne)]})


EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")

WORDS = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark group query row data slow filter customer "
         "line value column agg dup a r").split()

EDGE_TEXTS = [
    "",                                   # empty
    " ",                                  # single space
    "\n\n\n",                             # newlines only
    "\t \t",                              # mixed whitespace
    "a",                                  # single char
    "??!!,,..;;::",                       # punctuation only
    "0123456789 0123456789",              # digits
    "naïve café déjà-vu über señor",      # latin accents
    "数据 处理 引擎 规模 测试 中文 文本",      # CJK with spaces
    "数据处理引擎规模测试中文文本",             # CJK no spaces
    "مرحبا بالعالم هذا نص عربي",            # RTL Arabic
    "Ω≈ç√∫˜µ≤≥÷ emoji 🙂🚀🔥 mix",          # symbols + emoji
    "word " * 400,                        # long repetitive
    "x" * 5000,                           # one huge token
    "MiXeD CaSe MiXeD CaSe mixed case",   # case folding
    "éclair combining-mark é",  # combining accent
    "line one\nline two\n\nline four",    # paragraph structure
]


def _rng(seed: int, tag: str) -> np.random.Generator:
    # zlib.crc32, NOT hash(): str hash() is PYTHONHASHSEED-randomized per
    # process, which would make "seeded" generation differ across pytest
    # runs and silently unpin the seed-pinned regression cases (ADVICE r7;
    # same reason plans/pipeline.py avoids hash() for bucketing).
    return np.random.default_rng(
        np.random.SeedSequence([seed, zlib.crc32(tag.encode()) & 0x7FFFFFFF]))


def _sentence(rng, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def _ts(rng, n: int, base, span_us: int, tie_frac: float = 0.0) -> np.ndarray:
    off = rng.integers(0, span_us, n)
    if tie_frac and n > 3:
        k = max(2, int(n * tie_frac))
        off[rng.choice(n, k, replace=False)] = int(off[0])
    return base + off.astype("timedelta64[us]")


def gen_tables(profile: str, seed: int) -> dict[str, pa.Table]:
    """Generate all ten tables at the fixture Arrow schemas."""
    sizes = {
        "random": dict(cust=120, supp=8, part=150, orders=900, li_k=4,
                       events=700, docs=260, embs=300),
        "edge":   dict(cust=60, supp=6, part=80, orders=400, li_k=4,
                       events=500, docs=200, embs=200),
        "skew":   dict(cust=80, supp=6, part=100, orders=700, li_k=5,
                       events=900, docs=300, embs=260),
        "tiny":   dict(cust=3, supp=2, part=3, orders=4, li_k=2,
                       events=4, docs=3, embs=3),
        "const":  dict(cust=60, supp=5, part=60, orders=300, li_k=3,
                       events=400, docs=120, embs=120),
        "chunk":  dict(cust=60, supp=5, part=60, orders=300, li_k=3,
                       events=400, docs=48, embs=120),
        # docs are fully replaced by the crafted boundary blocks below
        "boundary": dict(cust=3, supp=2, part=3, orders=4, li_k=2,
                         events=4, docs=0, embs=3),
        # events are fully replaced by the crafted z-boundary cohorts
        "dblbound": dict(cust=60, supp=5, part=60, orders=300, li_k=3,
                         events=0, docs=120, embs=120),
        "zipf":   dict(cust=100, supp=8, part=120, orders=1200, li_k=5,
                       events=1500, docs=400, embs=300),
    }[profile]
    out: dict[str, pa.Table] = {}

    # region / nation: fixed small dims (entries join on their names)
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rng = _rng(seed, profile + "nation")
    n_nat = 25 if profile != "tiny" else 4
    out["nation"] = pa.table(
        {"n_nationkey": pa.array(range(n_nat), pa.int32()),
         "n_name": [f"NATION_{i}" for i in range(n_nat)],
         "n_regionkey": pa.array(rng.integers(0, 5, n_nat), pa.int32())})

    # customer
    rng = _rng(seed, profile + "customer")
    nc = sizes["cust"]
    bal = np.round(rng.uniform(-1000, 10000, nc), 2)
    if profile == "edge" and nc >= 4:
        bal[0] = 0.0
        bal[1] = bal[2]  # tie
    segs = ["HOUSEHOLD", "AUTOMOBILE", "MACHINERY", "FURNITURE", "BUILDING"]
    out["customer"] = pa.table(
        {"c_custkey": pa.array(range(nc), pa.int64()),
         "c_name": [f"Customer#{i:09d}" for i in range(nc)],
         "c_nationkey": pa.array(rng.integers(0, n_nat, nc), pa.int32()),
         "c_acctbal": bal,
         "c_mktsegment": [segs[i] for i in rng.integers(0, len(segs), nc)]})

    # supplier
    rng = _rng(seed, profile + "supplier")
    ns = sizes["supp"]
    out["supplier"] = pa.table(
        {"s_suppkey": pa.array(range(ns), pa.int64()),
         "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
         "s_nationkey": pa.array(rng.integers(0, n_nat, ns), pa.int32()),
         "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2)})

    # part
    rng = _rng(seed, profile + "part")
    npart = sizes["part"]
    adjs = ["cold", "small", "large", "fast", "slow", "red", "blue"]
    nouns = ["widget", "bolt", "gear", "valve", "spring"]
    types = ["LARGE", "STANDARD", "SMALL", "MEDIUM", "ECONOMY", "PROMO"]
    price = np.round(rng.uniform(900, 2100, npart), 2)
    if profile == "edge" and npart >= 3:
        price[1] = price[0]  # tied retail price under top-k
    out["part"] = pa.table(
        {"p_partkey": pa.array(range(npart), pa.int64()),
         "p_name": [f"{adjs[int(rng.integers(0, len(adjs)))]} "
                    f"{nouns[int(rng.integers(0, len(nouns)))]}"
                    for _ in range(npart)],
         "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, npart)],
         "p_type": [types[i] for i in rng.integers(0, len(types), npart)],
         "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
         "p_retailprice": price})

    # orders
    rng = _rng(seed, profile + "orders")
    no = sizes["orders"]
    span = int(6.6 * 365.25 * 86400 * 1e6)
    odate = _ts(rng, no, EPOCH_1995, span,
                tie_frac=0.2 if profile == "edge" else 0.0)
    odate = (odate.astype("datetime64[D]")).astype("datetime64[us]")  # midnight dates
    if profile == "skew":
        hot_cust = int(rng.integers(0, nc))
        ocust = np.where(rng.random(no) < 0.85, hot_cust,
                         rng.integers(0, nc, no))
    elif profile == "zipf":
        ocust = _zipf_keys(rng, no, nc)
    else:
        ocust = rng.integers(0, nc, no)
    if profile == "edge" and no >= 10:
        ocust[:3] = nc + 1000  # dangling FK → customer
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    tot = np.round(rng.uniform(900, 105000, no), 2)
    if profile == "edge" and no >= 6:
        tot[3] = tot[4]  # tie
    out["orders"] = pa.table(
        {"o_orderkey": pa.array(range(no), pa.int64()),
         "o_custkey": pa.array(ocust, pa.int64()),
         "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, no)],
         "o_totalprice": tot,
         "o_orderdate": pa.array(odate, pa.timestamp("us")),
         "o_orderpriority": [prios[i] for i in rng.integers(0, len(prios), no)]})

    # lineitem: li_k lines per order on average
    rng = _rng(seed, profile + "lineitem")
    okeys, lnums = [], []
    for ok in range(no):
        k = int(rng.integers(1, sizes["li_k"] + 1))
        okeys += [ok] * k
        lnums += list(range(1, k + 1))
    nl = len(okeys)
    okeys = np.array(okeys, np.int64)
    if profile == "skew" and nl > 10:
        okeys[: int(nl * 0.5)] = okeys[0]  # hot order key
        lnums = list(range(1, int(nl * 0.5) + 1)) + lnums[int(nl * 0.5):]
    disc = np.round(rng.uniform(0, 0.1, nl), 2)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ext = np.round(rng.uniform(900, 105000, nl), 2)
    if profile == "edge" and nl >= 8:
        disc[:4] = [0.0, 0.1, 0.0, 0.1]   # boundary discounts
        qty[:2] = [1.0, 50.0]
        ext[2] = ext[3]                   # tie
    sdate = _ts(rng, nl, EPOCH_1995, span,
                tie_frac=0.15 if profile == "edge" else 0.0)
    sdate = (sdate.astype("datetime64[D]")).astype("datetime64[us]")
    rf = [("R", "A", "N")[i] for i in rng.integers(0, 3, nl)]
    ls = [("O", "F")[i] for i in rng.integers(0, 2, nl)]
    if profile == "edge" and nl >= 2:
        # FULL window-sort-key duplicate with a DIFFERENT quantity —
        # the r10 sf0.1 catch: (l_orderkey, l_linenumber) is not
        # unique in the driver fixtures (261k dup pairs at sf0.1, two
        # full-key dups), so any window ordered only by
        # (shipdate, orderkey, linenumber) is order-dependent. Rows 0
        # and 1 here share orderkey/linenumber/shipdate (suppkey etc.
        # too), so every lineitem window entry must stay multiset-
        # deterministic under this tie or the sweep re-fails.
        okeys[1] = okeys[0]
        lnums[1] = lnums[0]
        sdate[1] = sdate[0]
        qty[1] = qty[0] + 1.0
    if profile == "zipf":
        lpart = _zipf_keys(rng, nl, npart)
        lsupp = _zipf_keys(rng, nl, ns)
    else:
        lpart = rng.integers(0, npart, nl)
        lsupp = rng.integers(0, ns, nl)
    if profile == "edge" and nl >= 2:
        lpart[1] = lpart[0]   # complete the full-row-key duplicate
        lsupp[1] = lsupp[0]
    out["lineitem"] = pa.table(
        {"l_orderkey": pa.array(okeys, pa.int64()),
         "l_partkey": pa.array(lpart, pa.int64()),
         "l_suppkey": pa.array(lsupp, pa.int64()),
         "l_linenumber": pa.array(lnums, pa.int32()),
         "l_quantity": qty,
         "l_extendedprice": ext,
         "l_discount": disc,
         "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
         "l_returnflag": rf,
         "l_linestatus": ls,
         "l_shipdate": pa.array(sdate, pa.timestamp("us"))})

    # events
    rng = _rng(seed, profile + "events")
    ne = sizes["events"]
    etypes = ["signup", "click", "error", "view", "purchase"]
    span_e = int(30 * 86400 * 1e6)
    ets = _ts(rng, ne, EPOCH_2024, span_e,
              tie_frac=0.2 if profile == "edge" else 0.0)
    if profile == "skew":
        uid = np.where(rng.random(ne) < 0.85, 3, rng.integers(0, 15, ne))
    elif profile == "zipf":
        uid = _zipf_keys(rng, ne, 15)
    else:
        uid = rng.integers(0, 15, ne)
    val = np.round(rng.uniform(0.01, 330, ne), 2)
    if profile == "edge" and ne >= 6:
        val[:3] = [0.01, 0.01, 330.0]  # tied minima
    out["events"] = pa.table(
        {"event_id": pa.array(range(ne), pa.int64()),
         "ts": pa.array(ets, pa.timestamp("us")),
         "user_id": pa.array(uid, pa.int64()),
         "event_type": [etypes[i] for i in rng.integers(0, len(etypes), ne)],
         "value": val,
         "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})

    if profile == "dblbound":
        out["events"] = _dblbound_events(rng_seed=seed)

    # documents (n_chars == len(text) is a fixture invariant — keep it)
    rng = _rng(seed, profile + "documents")
    nd = sizes["docs"]
    langs = ["en", "de", "zh", "fr", "es"]
    if profile == "skew":
        lang_col = ["en" if rng.random() < 0.85
                    else langs[int(rng.integers(0, 5))] for _ in range(nd)]
    elif profile == "zipf":
        lang_col = [langs[i] for i in _zipf_keys(rng, nd, 5)]
    else:
        lang_col = [langs[i] for i in rng.integers(0, 5, nd)]
    texts = [_sentence(rng, 20, 60) for _ in range(nd)]
    if profile == "zipf":
        # a Zipf head of boilerplate: one template owns ~half the docs
        # (the LSH-bucket-size / dedup-cluster stress shape)
        tpl = [_sentence(rng, 20, 60) for _ in range(8)]
        picks = _zipf_keys(rng, nd, 8)
        texts = [
            tpl[p] if rng.random() < 0.7
            else tpl[p] + " " + _sentence(rng, 1, 6)
            for p in picks
        ]
    if profile == "chunk":
        texts = _chunker_domain_texts(rng, nd)
    if profile == "boundary":
        texts, lang_col = _boundary_docs(rng)
        nd = len(texts)
    if profile == "edge":
        for i, t in enumerate(EDGE_TEXTS):
            if i < nd:
                texts[i] = t
        if nd > len(EDGE_TEXTS) + 3:
            dup = _sentence(rng, 30, 40)
            texts[len(EDGE_TEXTS)] = dup          # exact duplicates
            texts[len(EDGE_TEXTS) + 1] = dup
            texts[len(EDGE_TEXTS) + 2] = dup + " tail"  # near-duplicate
        if nd > len(EDGE_TEXTS) + 4:
            # NULL text (r9, code-review finding): every f(text) must
            # propagate NULL identically on both engines — md5(NULL),
            # length(NULL), split(NULL) all appear across the catalog
            texts[len(EDGE_TEXTS) + 4] = None
    out["documents"] = pa.table(
        {"doc_id": pa.array(range(nd), pa.int64()),
         "text": texts,
         "lang": lang_col,
         "source": [f"src{int(s)}"
                    for s in (_zipf_keys(rng, nd, 20)
                              if profile == "zipf"
                              else rng.integers(0, 20, nd))],
         "n_chars": pa.array(
             [len(t) if t is not None else None for t in texts],
             pa.int64())})

    # embeddings (dim 64, fixture value range ±0.5)
    rng = _rng(seed, profile + "embeddings")
    nv = sizes["embs"]
    mat = rng.uniform(-0.5, 0.5, (nv, 64)).astype(np.float32)
    if profile == "edge" and nv >= 6:
        mat[0] = 0.0                    # zero-norm vector
        mat[1] = mat[2]                 # exact duplicate vectors
        mat[3] = mat[2] * 2.0           # colinear (cosine tie)
        mat[4] = np.full(64, 1e-30, np.float32)   # denormal-ish norm
    if profile == "skew":
        lab = np.where(rng.random(nv) < 0.85, 7,
                       rng.integers(0, 10, nv)).astype(np.int32)
    elif profile == "zipf":
        lab = _zipf_keys(rng, nv, 10).astype(np.int32)
    else:
        lab = rng.integers(0, 10, nv).astype(np.int32)
    out["embeddings"] = pa.table(
        {"vec_id": pa.array(range(nv), pa.int64()),
         "embedding": pa.array([list(map(float, row)) for row in mat],
                               pa.list_(pa.float32())),
         "label": pa.array(lab, pa.int32())})
    if profile == "const":
        out = _make_const(out, seed)
    return out


def _const_col(tbl: pa.Table, name: str, value) -> pa.Table:
    idx = tbl.schema.get_field_index(name)
    typ = tbl.schema.field(idx).type
    return tbl.set_column(
        idx, pa.field(name, typ), pa.array([value] * tbl.num_rows, typ)
    )


def _make_const(out: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Flatten every numeric MEASURE to one constant (keys/timestamps
    keep their draws): zero-variance groups everywhere, plus one shared
    embedding vector so every pairwise cosine is a perfect tie."""
    out = dict(out)
    out["customer"] = _const_col(out["customer"], "c_acctbal", 5000.0)
    out["supplier"] = _const_col(out["supplier"], "s_acctbal", 5000.0)
    part = _const_col(out["part"], "p_retailprice", 1500.0)
    out["part"] = _const_col(part, "p_size", 25)
    out["orders"] = _const_col(out["orders"], "o_totalprice", 50000.0)
    li = out["lineitem"]
    for col, v in [("l_quantity", 25.0), ("l_extendedprice", 50000.0),
                   ("l_discount", 0.05), ("l_tax", 0.04)]:
        li = _const_col(li, col, v)
    out["lineitem"] = li
    out["events"] = _const_col(out["events"], "value", 100.0)
    emb = out["embeddings"]
    one = [float(x) for x in
           _rng(seed, "const-vec").uniform(-0.5, 0.5, 64).astype(np.float32)]
    idx = emb.schema.get_field_index("embedding")
    out["embeddings"] = emb.set_column(
        idx, pa.field("embedding", pa.list_(pa.float32())),
        pa.array([one] * emb.num_rows, pa.list_(pa.float32())),
    )
    return out


def write_sf_dir(tables: dict[str, pa.Table], dirpath: str) -> None:
    os.makedirs(dirpath, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(dirpath, f"{name}.parquet"))


def gen_media_rows(seed: int) -> list[tuple[int, str, bytes | None]]:
    """Adversarial (media_id, kind, content) rows for the ``media``
    profile: valid builds of every container, every-length truncations
    of one instance each, garbage, empties, NULLs, huge declared dims,
    wrong-codec WAVs and compressed/8bpp BMP headers — the byte shapes
    a 100 TB media lake actually contains. No oracle can see the bytes,
    so the profile is a crash/degrade check over the FULL Spark
    operators (mapInPandas plumbing included), not just the parsers."""
    from ade_agente_documental_empresarial___miner_a_spark.sources.media_headers import (  # noqa: E501
        build_avi, build_bmp, build_gif, build_jpeg, build_jpeg_dc,
        build_png, build_wav, build_wav_ima,
    )

    rng = _rng(seed, "media")
    rows: list[tuple[int, str, bytes | None]] = []
    mid = 0

    def add(kind: str, content: bytes | None):
        nonlocal mid
        rows.append((mid, kind, content))
        mid += 1

    w, h = int(rng.integers(1, 300)), int(rng.integers(1, 300))
    dur = int(rng.integers(0, 10**6))
    valids = [
        ("image", build_png(w, h)), ("image", build_gif(w, h)),
        ("image", build_bmp(w, h)), ("image", build_jpeg(w, h)),
        ("audio", build_wav(dur)), ("video", build_avi(w, h, dur)),
        ("image", build_bmp(3, 2, bytes(rng.integers(0, 256, 18,
                                                     dtype=np.uint8)))),
        ("audio", build_wav(5, bytes(rng.integers(0, 256, 5,
                                                  dtype=np.uint8)))),
        # r10 payload codecs: real inflate/unfilter PNG, real LZW GIF,
        # real IMA-ADPCM — every truncation prefix of each must degrade
        ("image", build_png(4, 5, bytes(rng.integers(0, 256, 60,
                                                     dtype=np.uint8)))),
        ("image", build_gif(5, 4,
                            bytes(rng.integers(0, 2, 20,
                                               dtype=np.uint8)),
                            [(9, 8, 7), (1, 2, 3)])),
        ("audio", build_wav_ima(65, int(rng.integers(-30000, 30000)),
                                spike_pos=int(rng.integers(1, 61)))),
        ("image", build_jpeg_dc(16, 24,
                                [int(v) for v in
                                 rng.integers(0, 256, 6)])),
    ]
    for kind, data in valids:
        add(kind, data)
        for cut in range(len(data)):          # every truncation prefix
            add(kind, data[:cut])
    add("image", None)                         # NULL content
    add("audio", b"")                          # empty
    add("video", bytes(rng.integers(0, 256, 64, dtype=np.uint8)))  # garbage
    add("image", b"BM" + bytes(rng.integers(0, 256, 80, dtype=np.uint8)))
    # huge declared dims (headers lie; nothing may allocate from them)
    add("image", build_png(2**31 - 1, 2**31 - 1))
    add("video", build_avi(10**6, 10**6, 2**31 - 1))
    # wrong codec / layout: 16-bit stereo WAV, 8bpp + compressed BMPs
    wav16 = bytearray(build_wav(8, bytes(8)))
    wav16[20:24] = struct.pack("<HH", 1, 2)   # stereo
    wav16[34:36] = struct.pack("<H", 16)      # 16-bit
    add("audio", bytes(wav16))
    bmp8 = bytearray(build_bmp(4, 4))
    bmp8[28:30] = struct.pack("<H", 8)
    add("image", bytes(bmp8))
    bmpc = bytearray(build_bmp(4, 4))
    bmpc[30:34] = struct.pack("<I", 1)        # BI_RLE8 compression
    add("image", bytes(bmpc))
    return rows


def run_media_profile(spark, seed: int) -> tuple[dict, list[str]]:
    """Drive every media operator over gen_media_rows: each must return
    (not raise), and valid rows must keep their decoded facts."""
    from ade_agente_documental_empresarial___miner_a_spark.sources.multimodal import (  # noqa: E501
        audio_chunk_plan, extract_media_features, extract_payload_stats,
        frame_sample_plan, resize_plan,
    )

    rows = gen_media_rows(seed)
    media = spark.createDataFrame(
        [(i, k, bytearray(c) if c is not None else None)
         for i, k, c in rows],
        "media_id long, kind string, content binary",
    )
    results: dict = {}
    failures: list[str] = []
    ops = {
        "extract_media_features": lambda: extract_media_features(media),
        "extract_payload_stats": lambda: extract_payload_stats(media),
        "resize_plan": lambda: resize_plan(media),
        "frame_sample_plan": lambda: frame_sample_plan(media),
        "audio_chunk_plan": lambda: audio_chunk_plan(media),
    }
    for name, op in ops.items():
        try:
            out = op().collect()
            results[name] = {"status": "ok", "rows": len(out)}
        except Exception as exc:  # noqa: BLE001 — triage, don't die
            msg = str(exc).splitlines()[0][:300]
            results[name] = {"status": "ERR", "err": msg}
            failures.append(f"media/s{seed}:{name} (ERR)")
    # decoded-fact spot check: the first valid rows must parse for real
    try:
        feats = {
            r.media_id: r
            for r in extract_media_features(media).collect()
        }
        ok_first = feats[0].width is not None and feats[0].error is None
        results["valid_rows_decode"] = {"status": "ok" if ok_first
                                        else "FAIL"}
        if not ok_first:
            failures.append(f"media/s{seed}:valid_rows_decode")
    except Exception as exc:  # noqa: BLE001
        results["valid_rows_decode"] = {
            "status": "ERR", "err": str(exc).splitlines()[0][:300]}
        failures.append(f"media/s{seed}:valid_rows_decode (ERR)")
    return results, failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--profiles", default="random,edge,skew,tiny,const,chunk,"
                              "boundary,dblbound,zipf,media"
    )
    ap.add_argument("--seeds", default="0")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    import importlib.util
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from ade_agente_documental_empresarial___miner_a_spark.session import get_spark
    spark = get_spark("parity-fuzz", shuffle_partitions=16)

    qs = mod.queries()
    oracles = mod.oracle_sql()
    names = args.only or sorted(n for n in qs if n in oracles)

    report: dict = {"profiles": {}, "summary": {}}
    n_ok = n_fail = n_err = 0
    failures = []
    for profile in args.profiles.split(","):
        for seed in (int(s) for s in args.seeds.split(",")):
            tag = f"{profile}/s{seed}"
            if profile == "media":
                rows, media_failures = run_media_profile(spark, seed)
                report["profiles"][tag] = rows
                ok_here = sum(
                    1 for v in rows.values() if v["status"] == "ok"
                )
                n_ok += ok_here
                n_err += len(media_failures)
                failures.extend(media_failures)
                print(f"MED {tag}: {ok_here} ops ok, "
                      f"{len(media_failures)} failed")
                continue
            tmp = tempfile.mkdtemp(prefix=f"fuzz_{profile}_s{seed}_")
            write_sf_dir(gen_tables(profile, seed), tmp)
            rows: dict = {}
            for name in names:
                if profile in ORACLE_DOMAIN_VIOLATIONS.get(name, ()):
                    try:
                        nrows = len(qs[name](spark, tmp).collect())
                        rows[name] = {"status": "spark_only_out_of_domain",
                                      "rows": nrows}
                        print(f"OOD {tag}:{name} rows={nrows} "
                              "(oracle domain violated; crash-check only)")
                        n_ok += 1
                    except Exception as exc:  # noqa: BLE001
                        msg = str(exc).splitlines()[0][:300]
                        print(f"ERR  {tag}:{name}: {msg}")
                        rows[name] = {"status": "ERR", "err": msg}
                        n_err += 1
                        failures.append(f"{tag}:{name} (ERR)")
                    continue
                try:
                    ok, nrows, ts, td = compare(
                        f"{tag}:{name}", qs[name](spark, tmp),
                        duck_conn(tmp), oracles[name])
                    rows[name] = {"status": "ok" if ok else "FAIL",
                                  "rows": nrows}
                    n_ok += ok
                    n_fail += not ok
                    if not ok:
                        failures.append(f"{tag}:{name}")
                except Exception as exc:  # noqa: BLE001 — triage, don't die
                    msg = str(exc).splitlines()[0][:300]
                    print(f"ERR  {tag}:{name}: {msg}")
                    rows[name] = {"status": "ERR", "err": msg}
                    n_err += 1
                    failures.append(f"{tag}:{name} (ERR)")
            report["profiles"][tag] = rows
    report["summary"] = {"ok": n_ok, "failed": n_fail, "errored": n_err,
                         "failures": failures}
    out = os.environ.get("PARITY_FUZZ_JSON")
    if out:
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1)
    print(f"\nTOTAL ok={n_ok} fail={n_fail} err={n_err}")
    for f in failures:
        print("  FAILURE:", f)
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    sys.exit(main())
