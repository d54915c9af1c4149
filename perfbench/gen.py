"""Seeded, single-threaded input generators for the pipeline benchmark.

Each generator writes two directories under its dataset dir:

  input/  the only files the pipeline under test is given
  truth/  what the output check compares against (never shown to the program)

The same (seed, parameters) always gives byte-identical files, so a run
reuses a cached copy; see ``ensure``.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
COMP = bytes.maketrans(b"ACGT", b"TGCA")


def revcomp(seq: str) -> str:
    return seq.encode().translate(COMP)[::-1].decode()


def ensure(root: str, kind: str, seed: int, params: dict) -> str:
    """Return the dataset dir for (kind, seed, params) and this generator's
    code, generating it first if absent. A dataset is complete once its DONE
    marker exists."""
    with open(__file__, "rb") as f:
        code = f.read()
    key = hashlib.sha1(json.dumps([kind, seed, params], sort_keys=True).encode()
                       + code).hexdigest()[:12]
    d = os.path.join(root, f"{kind}-s{seed}-{key}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "input"))
    os.makedirs(os.path.join(d, "truth"))
    GENERATORS[kind](d, seed, **params)
    with open(os.path.join(d, "truth", "params.json"), "w") as f:
        json.dump({"kind": kind, "seed": seed, **params}, f, sort_keys=True)
    open(os.path.join(d, "DONE"), "w").close()
    return d


def input_bytes(d: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(os.path.join(d, "input")):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ------------------------------------------------------------------ reads

def reads(d: str, seed: int, genome_bp: int, read_len: int, cover: int,
          error: float, shards: int = 4) -> None:
    """A uniform random genome and FASTQ reads sampled from both strands at
    `cover`x, with substitution errors at rate `error`. Reads are split over
    `shards` plain-text FASTQ files, the usual lane-split layout."""
    rng = np.random.default_rng(seed)
    codes = rng.integers(0, 4, genome_bp)
    rc_codes = (3 - codes)[::-1]  # A<->T, C<->G under the ACGT order
    n = cover * genome_bp // read_len
    starts = rng.integers(0, genome_bp - read_len + 1, n)
    reverse = rng.integers(0, 2, n).astype(bool)
    win = np.arange(read_len)[None, :]
    # a reverse-strand read is the reverse complement of the same window
    seq = np.where(reverse[:, None],
                   rc_codes[(genome_bp - read_len - starts)[:, None] + win],
                   codes[starts[:, None] + win])
    err = rng.random((n, read_len)) < error
    seq = np.where(err, (seq + rng.integers(1, 4, (n, read_len))) % 4, seq)

    # fixed-width records: "@r%09d\n" seq "\n+\n" quals "\n"
    ids = np.char.zfill(np.arange(n).astype(str), 9).astype("S9")
    col = lambda b: np.full((n, len(b)), np.frombuffer(b, np.uint8))
    rec = np.concatenate([
        col(b"@r"),
        np.frombuffer(ids.tobytes(), np.uint8).reshape(n, 9),
        col(b"\n"), BASES[seq], col(b"\n+\n"),
        np.full((n, read_len), ord("I"), np.uint8), col(b"\n"),
    ], axis=1)
    for i, part in enumerate(np.array_split(rec, shards)):
        with open(os.path.join(d, "input", f"reads_{i}.fq"), "wb") as f:
            f.write(part.tobytes())
    with open(os.path.join(d, "truth", "genome.txt"), "wb") as f:
        f.write(BASES[codes].tobytes())


# ----------------------------------------------------------------- corpus

EN_STOP = ["the", "a", "of", "and", "in", "to"]  # Curation's quality gate
DE_STOP = ["der", "und", "die", "das", "ein"]

# role codes written to truth/roles.parquet
UNIQUE, DE, SHORT, GARBLED, CONTAM, HOT, COPY, NEAR, TWIN = range(9)


_WEIGHT = {}


def linear_score(text: str) -> int:
    """Sketches.linearScore: per token (ascii(h0) * 7 + ascii(h1)) % 41 - 20
    over the first two hex digits h0 h1 of md5(token), summed per doc."""
    total = 0
    for tok in text.split(" "):
        w = _WEIGHT.get(tok)
        if w is None:
            h = hashlib.md5(tok.encode()).hexdigest()
            w = _WEIGHT[tok] = (ord(h[0]) * 7 + ord(h[1])) % 41 - 20
        total += w
    return total


def _words(rng, n: int, lo: int, hi: int, taken: set) -> list:
    out = []
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    while len(out) < n:
        w = letters[rng.integers(0, 26, rng.integers(lo, hi + 1))].tobytes().decode()
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def corpus(d: str, seed: int, n_docs: int, n_test: int, vocab: int = 5000,
           dim: int = 16) -> None:
    """A two-language corpus with planted duplicates. A doc's token slots
    hold a stopword of its language (30%), one of 20 two-word collocations
    (10%), or a word of a Zipf (s = 1) vocabulary of `vocab` pseudo-words.

    Roles (truth/roles.parquet, one row per corpus doc):
      UNIQUE   clean English doc that every gate should keep
      DE       German doc: no English stopword, off the DSIR target
      SHORT    under 10 tokens (quality gate)
      GARBLED  mostly 12-18 letter non-words (tokenizer-fertility gate)
      CONTAM   carries an 8-word window of a test doc (decontamination)
      HOT      one text repeated ~3% of the corpus
      COPY     exact copy groups of 2-4 docs
      NEAR     near-dup clusters: a base and 2 variants with ~3% of tokens
               replaced (MinHash-LSH gate); embeddings at cosine ~0.995
      TWIN     semantic twins: different texts whose embeddings sit at
               cosine > 0.9999 (semantic-dedup gate)
    The keeper of every COPY/HOT/NEAR/TWIN group is its minimum doc_id.
    """
    rng = np.random.default_rng(seed)
    stop = {"en": EN_STOP, "de": DE_STOP}
    taken = set(EN_STOP + DE_STOP)
    lex = {"en": _words(rng, vocab, 3, 8, taken),
           "de": _words(rng, vocab, 4, 9, taken)}
    test_lex = _words(rng, 2000, 5, 9, taken)
    zipf = 1.0 / np.arange(1, vocab + 1)
    zipf /= zipf.sum()
    # two-word collocations: the frequent bigrams that tell the languages
    # apart in DSIR's hashed-bigram buckets
    colloc = {lang: [[ws[i], ws[20 + i]] for i in range(20)] for lang, ws in lex.items()}

    def doc(lang: str, n: int) -> list:
        u = rng.random(n)
        s = rng.integers(0, len(stop[lang]), n)
        c = rng.integers(0, 20, n)
        w = rng.choice(vocab, n, p=zipf)
        out = []
        for i in range(n):
            if u[i] < 0.3:
                out.append(stop[lang][s[i]])
            elif u[i] < 0.4:
                out.extend(colloc[lang][c[i]])
            else:
                out.append(lex[lang][w[i]])
        return out[:n]

    def length() -> int:
        return int(rng.integers(40, 121))

    def vec() -> np.ndarray:
        return rng.standard_normal(dim)

    test = [" ".join(test_lex[j] for j in rng.integers(0, len(test_lex), length()))
            for _ in range(n_test)]

    rows = []  # (text, lang, vec, role, group)
    group = 0

    def add(text, lang, v, role, g=-1):
        rows.append((text, lang, v, role, g))

    frac = lambda f: max(1, int(round(f * n_docs)))
    # the hot text must clear every gate, so take the best-scoring of a few
    hot = max((" ".join(doc("en", length())) for _ in range(20)), key=linear_score)
    hv = vec()
    for _ in range(frac(0.03)):
        add(hot, "en", hv, HOT, group)
    group += 1
    while len(rows) < frac(0.03) + frac(0.08):
        t, v = " ".join(doc("en", length())), vec()
        for _ in range(int(rng.integers(2, 5))):
            add(t, "en", v, COPY, group)
        group += 1
    for _ in range(frac(0.03)):
        base, v = doc("en", length()), vec()
        add(" ".join(base), "en", v, NEAR, group)
        for _ in range(2):
            var = list(base)
            for i in rng.choice(len(var), max(1, len(var) * 3 // 100), replace=False):
                var[i] = lex["en"][rng.choice(vocab, p=zipf)]
            add(" ".join(var), "en", v + 0.1 * rng.standard_normal(dim), NEAR, group)
        group += 1
    for _ in range(frac(0.02)):
        v = vec()
        for _ in range(2):
            add(" ".join(doc("en", length())), "en",
                v + 1e-3 * rng.standard_normal(dim), TWIN, group)
        group += 1
    for _ in range(frac(0.01)):
        add(" ".join(doc("en", int(rng.integers(3, 9)))), "en", vec(), SHORT)
    for _ in range(frac(0.02)):
        ws = doc("en", length())
        for i in np.nonzero(rng.random(len(ws)) < 0.6)[0]:
            ws[i] = _words(rng, 1, 12, 18, set(taken))[0]
        add(" ".join(ws), "en", vec(), GARBLED)
    for _ in range(frac(0.03)):
        ws = doc("en", length())
        tw = test[rng.integers(0, n_test)].split(" ")
        at = int(rng.integers(0, len(tw) - 8))
        pos = int(rng.integers(0, len(ws)))
        add(" ".join(ws[:pos] + tw[at:at + 8] + ws[pos:]), "en", vec(), CONTAM)
    n_de = frac(0.2)
    while len(rows) < n_docs:
        lang = "de" if n_de > 0 else "en"
        n_de -= 1
        add(" ".join(doc(lang, length())), lang, vec(),
            DE if lang == "de" else UNIQUE)

    ids = rng.permutation(len(rows)).astype(np.int64)
    text, lang, vs, role, grp = zip(*rows)
    # the classifier gate keeps score > min: set min so it drops the
    # lowest-scoring 5% of clean docs, whatever the seed's vocabulary weighs
    clean = [linear_score(t) for t, r in zip(text, role) if r == UNIQUE]
    with open(os.path.join(d, "input", "options.json"), "w") as f:
        json.dump({"classifier_min": int(np.percentile(clean, 5)) - 1}, f)
    pq.write_table(pa.table({"doc_id": ids, "text": list(text), "lang": list(lang)}),
                   os.path.join(d, "input", "docs.parquet"))
    pq.write_table(pa.table({
        "doc_id": ids,
        "v": pa.array([list(map(float, v)) for v in vs], pa.list_(pa.float64())),
    }), os.path.join(d, "input", "embeddings.parquet"))
    pq.write_table(pa.table({
        "doc_id": np.arange(n_test, dtype=np.int64) + 10_000_000,
        "text": test}), os.path.join(d, "input", "test.parquet"))
    pq.write_table(pa.table({"doc_id": ids, "role": np.array(role, np.int8),
                             "grp": np.array(grp, np.int32)}),
                   os.path.join(d, "truth", "roles.parquet"))


GENERATORS = {"reads": reads, "corpus": corpus}
