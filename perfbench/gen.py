"""Seeded input generators for the four benchmark workloads.

Every generator takes the seed and an output directory and writes only
there; the same seed gives byte-identical inputs. Sizes come from
``SIZES`` (also listed in README.md). ``preflight`` refuses
degenerate inputs before anything is timed.
"""
import json
import os
import random

import duckdb

SIZES = {
    # trips per page, pages per cycle and base-state cycles: the repo has
    # no reference value for any of them (the reference's page `limit` is
    # a request parameter). They are sized so that one cycle's distinct
    # strings fit the cleaner's 8192-entry memo, the base state plus
    # MIN_CYCLES cycles exceed it, and a cycle takes about 1 s on 4 cores.
    # Set-up lands the base state as `base_cycles` cycles, one trigger
    # each, so the JVM is past its warm-up when the timed cycles start;
    # `cycles` timed cycles cover the longest run; `heldout` strings per
    # timed cycle are never landed.
    "trip_cycle": {"base_cycles": 15, "pages_per_cycle": 40, "page_size": 30,
                   "cycles": 25, "heldout": 300},
    # rows of the generated part table; n13 keys 5 variants per part
    "dict_resolve": {"parts": 2000},
    # documents / embeddings per shard, shards cycled through by the ops
    "corpus_curation": {"docs": 400, "vecs": 300, "shards": 4},
    # docs per wave, near-duplicate share, dictionary canons and delta per wave
    "state_waves": {"waves": 40, "docs": 200, "dup_share": 0.2,
                    "base_canons": 2000, "add_canons": 40, "del_vkeys": 30,
                    "probes": 600},
}

WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "the line sort window data column join small customer query group "
         "order stream filter big vector a index shard token model cache "
         "plan stage task").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _parquet(con, path, columns, rows, row_group=None):
    """Write rows (list of tuples) as one parquet file through DuckDB."""
    import pandas as pd
    df = pd.DataFrame.from_records(rows, columns=[c for c, _ in columns])
    casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in columns)
    opts = f", ROW_GROUP_SIZE {row_group}" if row_group else ""
    con.register("_rows", df)
    con.execute(f"COPY (SELECT {casts} FROM _rows) TO '{path}' "
                f"(FORMAT PARQUET{opts})")
    con.unregister("_rows")


# ---------------------------------------------------------------- trip_cycle

def _locations(repo):
    with open(os.path.join(repo, "src/main/resources/locations.json"),
              encoding="utf-8") as f:
        return json.load(f)


OP_PREFIXES = ["تشغيل ", "رحلة ", "يومية ", "نص يوم ", "ايجار ", "جولة ",
               "4 ساعة "]
ROUND_TRIP = [" ذهاب وعودة", " + عودة", " والعودة"]
# letters that occur in no English variant, so a word made of them
# scores 0 against every variant: the cleaner cannot resolve it
MISS_LETTERS = "bcfghjklqvxz"
AR_LETTERS = "ابتثجحخدذرزسشصضطظعغفقكلمنهي"


def _typo(rng, s):
    chars = list(s)
    for _ in range(rng.choice([1, 2])):
        i = rng.randrange(len(chars))
        op = rng.randrange(3)
        if op == 0 and len(chars) > 3:
            del chars[i]
        elif op == 1:
            chars[i] = rng.choice(AR_LETTERS if s[0] > "z" else LETTERS)
        else:
            chars.insert(i, rng.choice(AR_LETTERS if s[0] > "z" else LETTERS))
    return "".join(chars)


def _miss_word(rng):
    return "".join(rng.choice(MISS_LETTERS) for _ in range(rng.randint(6, 9)))


def _title(w):
    return w[:1].upper() + w[1:].lower()


# String classes of end_location and their weights: the class counts of
# the repo's NLP fixture (Goldens.raw, the 21 strings the trips table
# cycles through in Trips.scala), one class per fixture string:
#   exact       مطار القاهرة, فندق هيلتون, ميدان التحرير
#   op_prefix   تشغيل 12 ساعه مطارررر القاهره وعوده, تشغيل يومية
#   round_trip  ذهاب وعودة المطار
#   multi       الهرم + وسط البلد, اهرامات + ابو الهول,
#               التحرير و الهرم وعودة, الهرم ، المطار ، هيلتون,
#               downtown airport
#   typo        مطاررر, مطاار
#   miss        some random street
#   unknown     تحصيل فاتورة, كروز نيلي, مركب, 123, x
#   empty, null one each
# 'nan' is not in the fixture; it gets the weight of one fixture string
# because the reference reads a missing cell as 'nan'.
CLASS_WEIGHTS = (("exact", 3), ("op_prefix", 2), ("round_trip", 1),
                 ("multi", 5), ("typo", 2), ("miss", 1), ("unknown", 5),
                 ("empty", 1), ("nan", 1), ("null", 1))
CLASS_TOTAL = sum(w for _, w in CLASS_WEIGHTS)
JOINERS = [" و ", " + ", " ، ", " "]  # the fixture's multi-destination joiners


def _unknown(rng):
    """Non-location text in the fixture's three shapes: Arabic words (3
    of its 5 unknowns), digits (1) and a single letter (1)."""
    r = rng.randrange(5)
    if r < 3:
        return " ".join("".join(rng.choice(AR_LETTERS)
                                for _ in range(rng.randint(3, 6)))
                        for _ in range(rng.randint(1, 2)))
    if r == 3:
        return str(rng.randint(1, 99999))
    return rng.choice(LETTERS)


def trip_end_location(rng, variants):
    """(end_location, string class, main location known by construction
    or None)."""
    canon, v = rng.choice(variants)
    r = rng.randrange(CLASS_TOTAL)
    for cls, w in CLASS_WEIGHTS:
        if r < w:
            break
        r -= w
    if cls == "exact":
        return v, cls, canon
    if cls == "op_prefix":
        return rng.choice(OP_PREFIXES) + v, cls, canon
    if cls == "round_trip":
        return v + rng.choice(ROUND_TRIP), cls, None
    if cls == "multi":
        return v + rng.choice(JOINERS) + rng.choice(variants)[1], cls, None
    if cls == "typo":
        return _typo(rng, v), cls, None
    if cls == "miss":
        a, b = _miss_word(rng), _miss_word(rng)
        return f"{a} {b}", cls, f"{_title(a)} {_title(b)}"
    if cls == "unknown":
        return _unknown(rng), cls, None
    return {"empty": "", "nan": "nan", "null": None}[cls], cls, None


def _trip_record(rng, serial, variants):
    """One trip in PagedJsonSource's page format. The junk and NULL rates
    of the other fields are the trips table's (Trips.scala): unconfirmed
    1/11, 'not-a-date' 1/9, NULL price 1/23, NULL entry number 1/19, and
    its km_start, km_return, car_number and station value lists."""
    el, cls, main = trip_end_location(rng, variants)
    date = "not-a-date" if rng.random() < 1 / 9 else (
        f"{rng.randint(2022, 2025)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}")
    rec = {
        "serialId": serial,
        "confirm_status": rng.random() > 1 / 11,
        "sale_price": None if rng.random() < 1 / 23 else
        round(rng.uniform(50, 5000), 2),
        "date": date,
        "end_location": el,
        "km_start": rng.choice(["0", "100", "50", "abc", "", "200", None]),
        "km_return": rng.choice(["150", "90", "", "xyz", "250"]),
        "car_number": rng.choice(["ق ن ص 0042", "أ ب ج", "ABC-123", "0000",
                                  "  7 7 ", None]),
        "entry": {"number": None if rng.random() < 1 / 19 else
                  rng.randint(0, 9999)},
        "station": {"name": rng.choice(["Station A", "Station B", None])},
    }
    return rec, cls, main


def gen_trip_cycle(seed, out, repo, cycles=None):
    """Cycle k's pages, record count and per-trip truth under
    cycles/cNNNN; the first `base_cycles` (count in cycles/base_cycles)
    are the base state. Each timed cycle also gets `heldout.txt`: strings
    from the same grammar that no cycle lands (and no other cycle holds
    out), so timing CleanApi on them measures the cleaner, not its
    memo."""
    s = SIZES["trip_cycle"]
    rng = random.Random(seed)
    locs = _locations(repo)
    variants = [(c, v) for c, vs in locs.items() for v in vs]
    serial, page = 0, 0
    base = s["base_cycles"]
    n_cycles = base + (cycles or s["cycles"])
    landed = set()
    for k in range(n_cycles):
        d = os.path.join(out, "cycles", f"c{k:04d}")
        os.makedirs(d)
        truth, records = {}, 0
        for _ in range(s["pages_per_cycle"]):
            arr = []
            for _ in range(s["page_size"]):
                rec, cls, main = _trip_record(rng, serial, variants)
                arr.append(rec)
                truth[serial] = [cls, main, rec["end_location"]]
                landed.add(rec["end_location"])
                serial += 1
            with open(os.path.join(d, f"page_{page:05d}.json"), "w",
                      encoding="utf-8") as f:
                json.dump(arr, f, ensure_ascii=False)
            page += 1
            records += len(arr)
        with open(os.path.join(d, "records"), "w") as f:
            f.write(str(records))
        with open(os.path.join(d, "truth.json"), "w", encoding="utf-8") as f:
            json.dump(truth, f, ensure_ascii=False)
    with open(os.path.join(out, "cycles", "base_cycles"), "w") as f:
        f.write(str(base))
    held_rng = random.Random(f"heldout-{seed}")
    for k in range(base, n_cycles):
        held = []
        while len(held) < s["heldout"]:
            el = trip_end_location(held_rng, variants)[0]
            if el and "\n" not in el and el not in landed:
                landed.add(el)
                held.append(el)
        with open(os.path.join(out, "cycles", f"c{k:04d}", "heldout.txt"),
                  "w", encoding="utf-8") as f:
            f.write("\n".join(held) + "\n")
    return {"cycles": n_cycles, "base_cycles": base}


# -------------------------------------------------------------- dict_resolve

PART_NAMES = [f"{a} {b}" for a in ("blue", "cold", "hot", "large", "new",
                                     "old", "red", "small")
              for b in ("anvil", "bolt", "gear", "gizmo", "plate", "ring",
                        "rod", "widget")]


def gen_dict_resolve(seed, out, repo=None):
    """A part table in the shape of the repo's test tables (TESTDATA.md):
    p_partkey 0..n-1 and p_name one of the same 64 two-word names, so the
    resolvers' gram blocks look as they do there. The seed draws names,
    brands, types, sizes and prices."""
    n = SIZES["dict_resolve"]["parts"]
    rng = random.Random(seed)
    rows = [(k, rng.choice(PART_NAMES), f"Brand#{rng.randint(1, 25)}",
             rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"]),
             rng.randint(1, 50), round(rng.uniform(900, 2100), 2))
            for k in range(n)]
    con = duckdb.connect()
    _parquet(con, os.path.join(out, "part.parquet"),
             [("p_partkey", "BIGINT"), ("p_name", "VARCHAR"),
              ("p_brand", "VARCHAR"), ("p_type", "VARCHAR"),
              ("p_size", "INTEGER"), ("p_retailprice", "DOUBLE")],
             rows, row_group=2048)
    return {"parts": n}


# ----------------------------------------------------------- corpus_curation

def _doc_text(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 80)))


def _near_dup(rng, text):
    words = text.split()
    for _ in range(rng.randint(1, 2)):
        words[rng.randrange(len(words))] = rng.choice(WORDS)
    return " ".join(words)


def _base_docs(rng, n, dup_share):
    docs = []
    for i in range(n):
        if docs and rng.random() < dup_share:
            src = rng.choice(docs)[1]
            text = src if rng.random() < 0.3 else _near_dup(rng, src)
        else:
            text = _doc_text(rng)
        docs.append((i, text, rng.choice(LANGS), f"src{rng.randrange(20)}"))
    return docs


def _base_vecs(rng, n, dim=64, labels=10):
    cents = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(labels)]
    vecs = []
    for i in range(n):
        if vecs and rng.random() < 0.15:
            _, v, lab = rng.choice(vecs)
            v = [x + rng.gauss(0, 0.01) for x in v]
        else:
            lab = rng.randrange(labels)
            v = [c + rng.gauss(0, 0.6) for c in cents[lab]]
        vecs.append((i, v, lab))
    return vecs


def gen_corpus_curation(seed, out, repo=None):
    """Shard r is scale_probe.py's replica r of one seeded base shard:
    every word suffixed with "_r" (r > 0), doc_id/vec_id offset 10M * r,
    embeddings rotated by r positions."""
    s = SIZES["corpus_curation"]
    rng = random.Random(seed)
    docs = _base_docs(rng, s["docs"], 0.15)
    vecs = _base_vecs(rng, s["vecs"])
    con = duckdb.connect()
    for r in range(s["shards"]):
        d = os.path.join(out, "shards", f"s{r:02d}")
        os.makedirs(d)
        off = 10_000_000 * r
        rows = []
        for i, text, lang, src in docs:
            t = text if r == 0 else " ".join(w + f"_{r}" for w in text.split())
            rows.append((i + off, t, lang, src, len(t)))
        _parquet(con, os.path.join(d, "documents.parquet"),
                 [("doc_id", "BIGINT"), ("text", "VARCHAR"), ("lang", "VARCHAR"),
                  ("source", "VARCHAR"), ("n_chars", "BIGINT")], rows,
                 row_group=128)
        vrows = [(i + off, v[-r:] + v[:-r] if r else v, lab)
                 for i, v, lab in vecs]
        _parquet(con, os.path.join(d, "embeddings.parquet"),
                 [("vec_id", "BIGINT"), ("embedding", "FLOAT[]"),
                  ("label", "INTEGER")], vrows, row_group=128)
    return {"shards": s["shards"], "docs": s["docs"], "vecs": s["vecs"]}


# --------------------------------------------------------------- state_waves

def _token(rng):
    return "".join(rng.choice(LETTERS) for _ in range(12))


def _forms(t):
    """The n13 dictionary shape: five single-token surface forms."""
    return [t, "v" + t, t + "s", "r" + t[::-1], t.upper()]


def _edit(rng, t):
    i = rng.randrange(1, len(t) - 1)
    op = rng.randrange(3)
    if op == 0:
        return t[:i] + t[i + 1:]
    if op == 1:
        return t[:i] + "0" + t[i + 1:]
    return t[:i] + t[i + 1] + t[i] + t[i + 2:]


def gen_state_waves(seed, out, repo=None):
    s = SIZES["state_waves"]
    rng = random.Random(seed)
    con = duckdb.connect()
    doc_cols = [("doc_id", "BIGINT"), ("text", "VARCHAR"), ("lang", "VARCHAR"),
                ("source", "VARCHAR"), ("n_chars", "BIGINT")]
    dict_cols = [("vkey", "VARCHAR"), ("canon", "VARCHAR"),
                 ("vorder", "BIGINT"), ("op", "VARCHAR")]
    seen, next_id, dups = [], 0, 0
    live = {}  # vkey -> canon
    canons = [_token(rng) for _ in range(s["base_canons"] +
                                         s["waves"] * s["add_canons"])]
    for k in range(s["waves"] + 1):
        docs = []
        n = s["docs"] * (2 if k == 0 else 1)
        for _ in range(n):
            if seen and rng.random() < s["dup_share"]:
                text = _near_dup(rng, rng.choice(seen))
                dups += 1
            else:
                text = _doc_text(rng)
            docs.append((next_id, text, rng.choice(LANGS),
                         f"src{rng.randrange(20)}", len(text)))
            next_id += 1
        seen.extend(d[1] for d in docs)
        d = os.path.join(out, "waves", f"w{k:03d}")
        os.makedirs(d)
        _parquet(con, os.path.join(d, "docs.parquet"), doc_cols, docs)

        if k == 0:
            new = canons[:s["base_canons"]]
            dels = []
        else:
            lo = s["base_canons"] + (k - 1) * s["add_canons"]
            new = canons[lo:lo + s["add_canons"]]
            dels = rng.sample(sorted(live), s["del_vkeys"])
        rows = [(f, t, 0, "add") for t in new for f in _forms(t)]
        rows += [(v, "", 0, "del") for v in dels]
        for v in dels:
            live.pop(v, None)
        for t in new:
            for f in _forms(t):
                live[f] = t
        os.makedirs(os.path.join(out, "dict"), exist_ok=True)
        _parquet(con, os.path.join(out, "dict", f"w{k:03d}.parquet"),
                 dict_cols, rows)

    # fixed probes: edits of base canons, of canons added by later waves
    # (they resolve only once their wave lands) and structural misses
    probes = set()
    while len(probes) < s["probes"]:
        r = rng.random()
        if r < 0.5:
            probes.add(_edit(rng, rng.choice(canons[:s["base_canons"]])))
        elif r < 0.9:
            probes.add(_edit(rng, rng.choice(canons[s["base_canons"]:])))
        else:
            probes.add("zq0" + str(rng.randrange(10 ** 6)))
    _parquet(con, os.path.join(out, "probes.parquet"), [("fnorm", "VARCHAR")],
             [(p,) for p in sorted(probes)])
    return {"waves": s["waves"], "planted_dups": dups}


GENERATORS = {
    "trip_cycle": gen_trip_cycle,
    "dict_resolve": gen_dict_resolve,
    "corpus_curation": gen_corpus_curation,
    "state_waves": gen_state_waves,
}


# ----------------------------------------------------------------- preflight

TRIP_CLASSES = {c for c, _ in CLASS_WEIGHTS}
MIN_CYCLES = 5  # cycles every run completes


def preflight(workload, out, info):
    """Raise ValueError on inputs that would time a degenerate run."""
    if workload == "trip_cycle":
        seen, run_strings, base = set(), 0, info["base_cycles"]
        for k in range(info["cycles"]):
            with open(os.path.join(out, "cycles", f"c{k:04d}", "truth.json"),
                      encoding="utf-8") as f:
                truth = json.load(f)
            classes = {v[0] for v in truth.values()}
            strs = {v[2] for v in truth.values()}
            if k >= base and not (strs - seen):
                raise ValueError(f"cycle {k} lands no new string")
            if len(strs) > 8192:
                raise ValueError(f"cycle {k}'s distinct strings overflow "
                                 "the cleaner's 8192-entry memo")
            if k >= base and classes != TRIP_CLASSES:
                raise ValueError(f"cycle {k} misses string classes "
                                 f"{sorted(TRIP_CLASSES - classes)}")
            seen |= strs
            if k == base - 1 + MIN_CYCLES:
                run_strings = len(seen)
        if run_strings <= 8192:
            raise ValueError("a run's distinct strings fit the cleaner's "
                             f"8192-entry memo ({run_strings})")
    elif workload == "state_waves":
        if info["planted_dups"] == 0:
            raise ValueError("no planted near-duplicates")
        for k in range(info["waves"] + 1):
            p = os.path.join(out, "waves", f"w{k:03d}", "docs.parquet")
            n = duckdb.sql(f"SELECT count(*) FROM '{p}'").fetchone()[0]
            if n == 0:
                raise ValueError(f"wave {k} is empty")
    elif workload == "corpus_curation":
        for r in range(info["shards"]):
            p = os.path.join(out, "shards", f"s{r:02d}", "documents.parquet")
            n, d = duckdb.sql(f"SELECT count(*), count(DISTINCT text) "
                              f"FROM '{p}'").fetchone()
            if n == 0 or n == d:
                raise ValueError(f"shard {r}: empty or no planted duplicates")
    elif workload == "dict_resolve":
        p = os.path.join(out, "part.parquet")
        n, m = duckdb.sql(f"SELECT count(*), count(DISTINCT p_partkey % 8) "
                          f"FROM '{p}'").fetchone()
        if n < SIZES["dict_resolve"]["parts"] or m < 8:
            raise ValueError("part table short or a probe class "
                             "(p_partkey % 8) is missing")
