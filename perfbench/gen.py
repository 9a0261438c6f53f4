"""Seeded input generator for the stream benchmark.

Everything the engine reads during a benchmark run is written here, from
the seed alone: the training corpus (from a fixed seed, `CORPUS_SEED`), the
per-trigger stream files, the keyed changelog with its ground truth, and the
tables of the batch queries.
The engine sees only the files; the truth files are read back by the
harness checks.
"""
import datetime
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The sentiment lexicons the engine scores with (graft.ml.LexiconSentiment).
POSITIVE = ("up gain gains bull bullish moon profit win good great pump rally "
            "surge high strong buy fast best growth soar").split()
NEGATIVE = ("down loss losses bear bearish crash dump bad fear drop weak sell "
            "scam rug slow worst fail panic plunge low").split()

SUBREDDITS = ["Bitcoin", "CryptoCurrency", "ethereum", "CryptoMarkets",
              "btc", "solana", "dogecoin", "defi", "altcoin", "NFT"]
URLS = ["https://www.reddit.com/r/Bitcoin/comments/{}", "http://coinpage.io/p/{}",
        "www.chartsite.org/{}"]
MARKDOWN = ["**{}**", "_{}_", "[{0}](https://ex.com/{0})", "> {}", "`{}`", "# {}",
            "~~{}~~"]
EMOJI = ["\U0001F680", "\U0001F602", "\U0001F4C9", "\U0001F4C8", "\U0001F525",
         "❤️"]
NON_ASCII = ["café", "naïve", "Zürich", "日本",
             "señor", "über", "crème"]

VOCAB_SIZE = 3000
EPOCH0 = 1761318322.0          # first timestamp of the reference corpus
TRAIN_RECORDS = 1135           # the reference corpus size
# The training corpus is drawn from this seed in every run, like the one
# committed corpus the reference trains on; only the streamed records follow
# the run's seed. The inference cost depends on the trained model (LDA's
# per-document inference iterates to convergence): with a corpus per seed,
# the time of a 10,000-record trigger varied by up to 40% between seeds.
CORPUS_SEED = 0


def vocabulary():
    """3,000 pseudo-words: consonant-vowel syllables closed by a 'z', so no
    word collides with an English stop word or a lexicon entry. Fixed, not
    seeded: the seed chooses how often each word is drawn."""
    syll = [c + v for c in "bdfgklmnprstv" for v in "aeiou"]
    rng = random.Random(1)
    words, seen = [], set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(syll) for _ in range(rng.choice((1, 2, 2, 3)))) + "z"
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(n, s):
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += r ** -s
        out.append(acc)
    return out


VOCAB = vocabulary()
VOCAB_CUM = zipf_weights(VOCAB_SIZE, 0.6)
SUB_CUM = zipf_weights(len(SUBREDDITS), 1.1)


def reddit_text(rng):
    """A comment: Zipf words, lexicon hits, and what the clean chain strips
    (URLs, markdown, emoji, non-ASCII, case, newlines)."""
    toks = rng.choices(VOCAB, cum_weights=VOCAB_CUM, k=rng.randint(6, 30))
    mood = rng.random()
    for _ in range(rng.randint(0, 3)):
        lex = POSITIVE if mood < 0.45 else NEGATIVE if mood < 0.85 else POSITIVE + NEGATIVE
        toks.insert(rng.randrange(len(toks) + 1), rng.choice(lex))
    if rng.random() < 0.3:
        i = rng.randrange(len(toks))
        toks[i] = rng.choice(MARKDOWN).format(toks[i])
    if rng.random() < 0.25:
        toks.insert(rng.randrange(len(toks) + 1),
                    rng.choice(URLS).format("%x" % rng.getrandbits(32)))
    if rng.random() < 0.2:
        toks.append(rng.choice(EMOJI))
    if rng.random() < 0.15:
        toks.insert(rng.randrange(len(toks) + 1), rng.choice(NON_ASCII))
    if rng.random() < 0.2:
        toks[0] = toks[0].upper()
    text = " ".join(toks)
    return text.replace(" ", "\n", 1) if rng.random() < 0.1 else text


def reddit_record(rng, rid, t):
    sub = rng.choices(SUBREDDITS, cum_weights=SUB_CUM)[0]
    text = reddit_text(rng)
    return {"id": rid, "author": "user%d" % rng.randrange(400), "subreddit": sub,
            "text": text, "timestamp": t,
            "score": min(95, max(-13, int(rng.gauss(6 + len(text) / 60, 12)))),
            "num_replies": rng.randrange(40)}


def write_corpus(out, seed):
    """The 1,135-record training corpus as one JSON array (the reference's
    multiLine layout)."""
    rng = random.Random(seed * 1000003 + 11)
    recs = [reddit_record(rng, "c%07d" % i, EPOCH0 + 3600.0 * i / 8)
            for i in range(TRAIN_RECORDS)]
    with open(os.path.join(out, "corpus.json"), "w", encoding="utf-8") as f:
        json.dump(recs, f, ensure_ascii=False)


def write_trigger_files(dirpath, batches):
    """One JSON-lines file per trigger, modification times one second apart,
    so a file source with maxFilesPerTrigger=1 reads them in this order."""
    os.makedirs(dirpath, exist_ok=True)
    t0 = 1700000000
    for b, recs in enumerate(batches):
        p = os.path.join(dirpath, "part-%05d.json" % b)
        with open(p, "w", encoding="utf-8") as f:
            for r in recs:
                f.write(json.dumps(r, ensure_ascii=False))
                f.write("\n")
        os.utime(p, (t0 + b, t0 + b))


def write_stream(out, seed, name, batches, per_batch):
    """Stream records for the inference path: `batches` files of
    `per_batch` records. About 1% have a null text, which the engine's
    null-drop removes; stream_truth.json lists every id that must land."""
    rng = random.Random(seed * 1000003 + 29 + len(name))
    all_batches, expect = [], []
    for b in range(batches):
        recs = []
        for i in range(per_batch):
            rid = "%s%d_%07d" % (name[0], seed, b * per_batch + i)
            r = reddit_record(rng, rid, EPOCH0 + 86400.0 * 30 + 17.0 * (b * per_batch + i))
            if rng.random() < 0.01:
                r["text"] = None
            else:
                expect.append(rid)
            recs.append(r)
        all_batches.append(recs)
    write_trigger_files(os.path.join(out, name), all_batches)
    with open(os.path.join(out, name + "_truth.json"), "w") as f:
        json.dump({"records": batches * per_batch, "ids": expect}, f)


def write_changelog(out, seed, batches, per_batch, name="changelog"):
    """One keyed changelog for the three stateful maintainers, with its
    truth by construction.

    Each original carries a token no other original has, so its cleaned
    text is unique. Reposts are exact text copies of an earlier original
    under a new id; re-deliveries are exact copies of an earlier record.
    Every record is also
    a change event (key, ts, seq, op) whose (ts, seq) is unique per event;
    events are shuffled within a window of batches, so seq arrives out of
    order, and about 8% are deletes."""
    rng = random.Random(seed * 1000003 + 47 + len(name))
    n = batches * per_batch
    originals, delivered = [], []
    seq = 0
    events = []
    for i in range(n):
        roll = rng.random()
        if delivered and roll < 0.05:
            events.append(dict(rng.choice(delivered)))          # re-delivery
            continue
        if originals and roll < 0.15:
            text = rng.choice(originals)[1]                      # repost
            kind = "repost"
        else:
            text = reddit_text(rng) + " uq%dz" % len(originals)
            kind = "original"
        seq += 1
        key = rng.randrange(max(1, n // 3))
        ts = 1000 * (seq // 50) + rng.randrange(1000)
        rec = {"id": i, "user_id": rng.randrange(600), "day": ts // 20000,
               "text": text, "score": round(rng.uniform(-5, 50), 2),
               "key": key, "ts": ts, "seq": seq,
               "op": "D" if rng.random() < 0.08 else "U"}
        if kind == "original":
            originals.append((i, text))
        delivered.append(rec)
        events.append(rec)
    # Out-of-order arrival: shuffle inside windows of three batches.
    w = 3 * per_batch
    for s in range(0, n, w):
        chunk = events[s:s + w]
        rng.shuffle(chunk)
        events[s:s + w] = chunk
    # Dedup keeps, per cleaned text, the smallest id in the first batch
    # that carries it; texts and cleaned texts partition records alike
    # (originals differ in their unique token), so the truth follows from
    # the delivery order alone.
    batches_out = [events[b * per_batch:(b + 1) * per_batch] for b in range(batches)]
    first = {}
    for b, recs in enumerate(batches_out):
        for r in recs:
            fb = first.get(r["text"])
            if fb is None or (fb[0] == b and r["id"] < fb[1]):
                first[r["text"]] = (b, r["id"])
    survivors = sorted(v[1] for v in first.values())
    latest = {}
    for r in events:
        cur = latest.get(r["key"])
        if cur is None or (r["ts"], r["seq"]) > (cur["ts"], cur["seq"]):
            latest[r["key"]] = r
    live = sorted((k, r["seq"]) for k, r in latest.items() if r["op"] != "D")
    days = {}
    for r in events:
        d = days.setdefault(r["day"], [0, set()])
        d[0] += 1
        d[1].add(r["user_id"])
    write_trigger_files(os.path.join(out, name), batches_out)
    with open(os.path.join(out, name + "_truth.json"), "w") as f:
        json.dump({"records": n, "originals": len(originals),
                   "dedup_survivors": survivors, "cdc_live": live,
                   "sketch": sorted([d, v[0], len(v[1])] for d, v in days.items())}, f)


# The batch-query tables: the TPC-H-shaped star, the events stream table,
# documents and embeddings, at the row counts of scale factor 0.01.
TABLE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
              "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
DOC_WORDS = ("join hash row batch scan column customer filter small slow merge order "
             "vector line table data agg value key stream window a spark part group "
             "big sort query fast the").split()
PART_WORDS = (["red", "blue", "green", "black", "white", "small", "large", "shiny"],
              ["widget", "bolt", "ring", "gear", "pipe", "valve", "spring", "plate"])


I32, I64, F64, STR, TS = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
TABLE_TYPES = {
    "region": {"r_regionkey": I32, "r_name": STR},
    "nation": {"n_nationkey": I32, "n_name": STR, "n_regionkey": I32},
    "customer": {"c_custkey": I64, "c_name": STR, "c_nationkey": I32, "c_acctbal": F64,
                 "c_mktsegment": STR},
    "supplier": {"s_suppkey": I64, "s_name": STR, "s_nationkey": I32, "s_acctbal": F64},
    "part": {"p_partkey": I64, "p_name": STR, "p_brand": STR, "p_type": STR, "p_size": I32,
             "p_retailprice": F64},
    "orders": {"o_orderkey": I64, "o_custkey": I64, "o_orderstatus": STR, "o_totalprice": F64,
               "o_orderdate": TS, "o_orderpriority": STR},
    "lineitem": {"l_orderkey": I64, "l_partkey": I64, "l_suppkey": I64, "l_linenumber": I32,
                 "l_quantity": F64, "l_extendedprice": F64, "l_discount": F64, "l_tax": F64,
                 "l_returnflag": STR, "l_linestatus": STR, "l_shipdate": TS},
    "events": {"event_id": I64, "ts": TS, "user_id": I64, "event_type": STR, "value": F64,
               "props": STR},
    "documents": {"doc_id": I64, "text": STR, "lang": STR, "source": STR, "n_chars": I64},
    "embeddings": {"vec_id": I64, "embedding": pa.list_(pa.float32()), "label": I32},
}


def write_tables(out, seed):
    """One parquet file per table under `tables/`, with the column types of
    TABLE_TYPES. About 5% of the documents are near-duplicates (an earlier
    document's text plus one token), so the dedup queries find pairs;
    embeddings are unit vectors around one centroid per label."""
    rng = random.Random(seed * 1000003 + 71)
    n = TABLE_ROWS
    day = datetime.timedelta(days=1)
    d95 = datetime.datetime(1995, 1, 1)
    tables = {
        "region": [{"r_regionkey": i, "r_name": r} for i, r in enumerate(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
        "nation": [{"n_nationkey": i, "n_name": "NATION_%d" % i, "n_regionkey": i % 5}
                   for i in range(25)],
        "customer": [{"c_custkey": i, "c_name": "Customer#%09d" % i,
                      "c_nationkey": rng.randrange(25),
                      "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
                      "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING",
                                                  "AUTOMOBILE", "HOUSEHOLD"])}
                     for i in range(n["customer"])],
        "supplier": [{"s_suppkey": i, "s_name": "Supplier#%09d" % i,
                      "s_nationkey": rng.randrange(25),
                      "s_acctbal": round(rng.uniform(-999.99, 9999.99), 2)}
                     for i in range(n["supplier"])],
        "part": [{"p_partkey": i,
                  "p_name": "%s %s" % (rng.choice(PART_WORDS[0]), rng.choice(PART_WORDS[1])),
                  "p_brand": "Brand#%d" % rng.randint(1, 25),
                  "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                                        "ECONOMY"]),
                  "p_size": rng.randint(1, 50), "p_retailprice": round(900 + (i % 1000) / 10, 1)}
                 for i in range(n["part"])],
        "orders": [{"o_orderkey": i, "o_custkey": rng.randrange(n["customer"]),
                    "o_orderstatus": rng.choice("POF"),
                    "o_totalprice": round(rng.uniform(1000, 500000), 2),
                    "o_orderdate": d95 + rng.randrange(2400) * day,
                    "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                   "4-NOT SPECIFIED", "5-LOW"])}
                   for i in range(n["orders"])],
    }
    lines = []
    for _ in range(n["lineitem"]):
        q = rng.randint(1, 50)
        lines.append({"l_orderkey": rng.randrange(n["orders"]),
                      "l_partkey": rng.randrange(n["part"]),
                      "l_suppkey": rng.randrange(n["supplier"]),
                      "l_linenumber": rng.randint(1, 7), "l_quantity": float(q),
                      "l_extendedprice": round(q * rng.uniform(900, 2100), 2),
                      "l_discount": rng.randint(0, 10) / 100, "l_tax": rng.randint(0, 8) / 100,
                      "l_returnflag": rng.choice("RAN"), "l_linestatus": rng.choice("OF"),
                      "l_shipdate": d95 + (1 + rng.randrange(2500)) * day})
    tables["lineitem"] = lines
    t = datetime.datetime(2024, 1, 1)
    events = []
    for i in range(n["events"]):
        t += datetime.timedelta(microseconds=rng.randrange(1, 518400000))
        events.append({"event_id": i, "ts": t, "user_id": rng.randrange(150),
                       "event_type": rng.choice(["signup", "error", "click", "view",
                                                 "purchase"]),
                       "value": round(min(490.0, rng.expovariate(1 / 60)) + 0.01, 2),
                       "props": '{"k": %d}' % rng.randrange(100)})
    tables["events"] = events
    docs = []
    for i in range(n["documents"]):
        if docs and rng.random() < 0.05:
            text = rng.choice(docs)["text"] + " dup"
        else:
            text = " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 95)))
        docs.append({"doc_id": i, "text": text,
                     "lang": rng.choices(["en", "zh", "es", "de", "fr"],
                                         weights=[44, 15, 14, 14, 13])[0],
                     "source": "src%d" % (i % 20), "n_chars": len(text)})
    tables["documents"] = docs
    centroids = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    embs = []
    for i in range(n["embeddings"]):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.8) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        embs.append({"vec_id": i, "embedding": [x / norm for x in v], "label": label})
    tables["embeddings"] = embs
    os.makedirs(os.path.join(out, "tables"))
    for name, rows in tables.items():
        schema = pa.schema(list(TABLE_TYPES[name].items()))
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(out, "tables", name + ".parquet"))
