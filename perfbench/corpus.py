"""Seeded corpus generators for the benchmark workloads.

Both corpora draw document text from the vocabulary shape of the program's
`ScaleGen.uniqueCorpus`: two-syllable words over 64 syllables, the index
skewed toward common words (least of two uniform draws), 16 English
stopwords for the most common indices, ~20 % of 3-word blocks taken from a
fixed table of 64 stock phrases, and a sentence stop after ~1 word in 12.
The same seed always gives byte-identical files.

Each generator returns the facts the correctness checks need: how many
documents the program should ingest, their text bytes, and how many of them
are byte-identical copies of an earlier document (dedup must drop at least
that many).
"""

import gzip
import os
import random
import uuid

SYL = ("ba ce di fo gu ha je ki lo mu na pe qi ro su ta ve wi xo yu za bre "
       "cho dra fle gri hos jun kle lor mon nis pra que ril ston tur vel wor "
       "xen yor zam ard ber cor dun eth fin gor hul ine jor kan lem mor nor "
       "ost per qua ris sol tan urn ver").split()
STOP = "the of and to in a is that for it as was with on by at".split()
PHRASES = [[SYL[(p * 7 + k * 3) % 64] + SYL[(p * 11 + k * 5 + 1) % 64] for k in range(3)]
           for p in range(64)]
LANGS = ["en"] * 6 + ["de", "fr", "es", "it"]
MIN_CHARS = 120  # well above the pipeline's 100-char minimum after cleaning
assert len(SYL) == 64 and len(STOP) == 16


def _word(rng):
    idx = min(rng.randrange(4096), rng.randrange(4096))
    return STOP[idx % 16] if idx < 256 else SYL[idx // 64] + SYL[idx % 64]


def doc_text(rng):
    """One document: 30-79 words in 3-word blocks, some of them stock phrases."""
    words = []
    nw = 30 + rng.randrange(50)
    while len(words) < nw or len(" ".join(words)) < MIN_CHARS:
        block = PHRASES[rng.randrange(64)] if rng.randrange(5) == 0 else \
            [_word(rng) for _ in range(3)]
        words.extend(w + "." if rng.randrange(12) == 0 else w for w in block)
    return " ".join(words)


def _facts(texts):
    return {
        "docs": len(texts),
        "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
        "identical_copies": len(texts) - len(set(texts)),
    }


def _wet_record(rtype, rid, uri, body):
    head = [b"WARC/1.0", b"WARC-Type: " + rtype.encode(),
            b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">"]
    if uri:
        head.append(b"WARC-Target-URI: " + uri.encode())
    payload = body.encode("utf-8")
    head += [b"WARC-Date: 2024-05-01T00:00:00Z",
             b"Content-Length: " + str(len(payload)).encode()]
    return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def crawl_unique(out_dir, seed, n_docs, n_files):
    """A crawl segment: `n_files` gzipped WET files holding `n_docs`
    conversion records (~98 % unique; ~2 % planted duplicates, half
    byte-identical, half suffixed near-dups of a small pool), plus ~3 %
    too-short conversion stubs and ~3 % non-conversion records that ingest
    must screen out, and one warcinfo record per file."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_dup = n_docs // 50
    pool = [doc_text(rng) for _ in range(max(1, n_dup // 8))]
    kinds = ["dup"] * n_dup + ["doc"] * (n_docs - n_dup)
    rng.shuffle(kinds)
    texts, records = [], []
    for kind in kinds:
        while rng.randrange(100) < 6:  # screened records between documents
            rtype = "response" if rng.randrange(2) else "conversion"
            records.append(_wet_record(
                rtype, str(uuid.UUID(int=rng.getrandbits(128))),
                f"http://host{rng.randrange(5000)}.example/x",
                doc_text(rng) if rtype == "response" else "stub"))
        if kind == "dup":
            text = rng.choice(pool)
            if rng.randrange(2):
                text += f" mirrorvariant{rng.randrange(7)}"
        else:
            text = doc_text(rng)
        texts.append(text)
        rid = str(uuid.UUID(int=rng.getrandbits(128)))
        records.append(_wet_record("conversion", rid,
                                   f"http://host{rng.randrange(5000)}.example/p/{rid[:8]}", text))
    # the file count only cuts the record stream: contents do not depend on it
    per_file = -(-len(records) // n_files)
    for f in range(n_files):
        name = os.path.join(out_dir, f"seg-{f:05d}.warc.wet.gz")
        with open(name, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
            gz.write(_wet_record("warcinfo", str(uuid.UUID(int=(seed * 100003 + f) % (1 << 128))), "",
                                 "software: perfbench-crawler 1.0"))
            gz.writelines(records[f * per_file:(f + 1) * per_file])
    return _facts(texts)


def dedup_heavy(out_dir, seed, n_base, n_files):
    """The gate shape: each of `n_base` base documents heads a 10-member
    cluster (odd members byte-identical copies, even members suffixed
    near-dups), plus one byte-identical boilerplate clique of 5 % of the
    cluster documents. Rows are shuffled across `n_files` parquet files so
    every scan task sees every cluster shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    cluster = 10
    rows = []
    for i in range(n_base):
        base = doc_text(rng)
        lang = rng.choice(LANGS)
        for k in range(cluster):
            text = base if k == 0 or k % 2 else f"{base} probevariant{k}marker"
            rows.append((k * n_base + i, text, lang))
    boiler = ("this is the standard boilerplate footer text repeated verbatim "
              "across every mirrored shard of the crawl with enough words that "
              "the shingle and trigram pipelines all engage fully")
    n_boiler = len(rows) // 20
    rows += [(cluster * n_base + j, boiler, "en") for j in range(n_boiler)]
    rng.shuffle(rows)
    per_file = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * per_file:(f + 1) * per_file]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in part], pa.int64()),
            "text": pa.array([r[1] for r in part], pa.string()),
            "lang": pa.array([r[2] for r in part], pa.string()),
            "source": pa.array(["boilerplate" if r[1] is boiler else f"src{r[0] % 20}"
                                for r in part], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in part], pa.int64()),
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return _facts([r[1] for r in rows])
