"""Output checks and quality metrics for the pipeline benchmark.

Each check returns (errors, quality): `errors` is a list of strings, empty
when the output is correct; `quality` holds the workload's quality figures.
"""

import glob
import hashlib
import os

import pyarrow.parquet as pq

from gen import COPY, CONTAM, HOT, NEAR, TWIN, UNIQUE, revcomp


def read_fasta(path: str) -> list:
    """(header, sequence) records of every part file under a FASTA dir."""
    recs = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            name, seq = None, []
            for line in f:
                line = line.rstrip("\n")
                if line.startswith(">"):
                    if name is not None:
                        recs.append((name, "".join(seq)))
                    name, seq = line[1:], []
                elif line:
                    seq.append(line)
            if name is not None:
                recs.append((name, "".join(seq)))
    return recs


def assembly(out_dir: str, data_dir: str, min_contig: int):
    """Every contig of at least `min_contig` bases must be an exact substring
    of the genome or of its reverse complement, and its header must state
    its length.

    quality: n50_bp over all contigs; genome_frac, the share of genome bases
    covered by exact contigs; ng50_frac, NG50 as a share of the genome."""
    with open(os.path.join(data_dir, "truth", "genome.txt")) as f:
        genome = f.read()
    rc = revcomp(genome)
    g = len(genome)
    recs = read_fasta(os.path.join(out_dir, "Assembly"))
    errors = []
    covered = bytearray(g)
    lengths = []
    for name, seq in recs:
        if not name.endswith(f"-{len(seq)}"):
            errors.append(f"header {name!r} does not match length {len(seq)}")
        if len(seq) < min_contig:
            continue
        lengths.append(len(seq))
        at = genome.find(seq)
        if at < 0:
            r = rc.find(seq)
            if r < 0:
                errors.append(f"contig {name} ({len(seq)} bp) is not in the genome")
                continue
            at = g - r - len(seq)
        covered[at:at + len(seq)] = b"\x01" * len(seq)
    if not lengths:
        errors.append(f"no contig of at least {min_contig} bp")
    lengths.sort(reverse=True)

    def nx(total):
        acc = 0
        for n in lengths:
            acc += n
            if 2 * acc >= total:
                return n
        return 0

    return errors, {"n50_bp": nx(sum(lengths)),
                    "genome_frac": sum(covered) / g,
                    "ng50_frac": nx(g) / g,
                    "contigs": len(lengths)}


def curation(out_dir: str, data_dir: str):
    """Checks the flags and curated tables against the input and the planted
    truth:
      - exact_keep equals an independent md5 dedup (min doc_id per text);
      - every planted copy except its group's minimum doc_id is dropped, and
        the hot text keeps exactly one copy;
      - every doc carrying a test-set window is flagged unclean;
      - `curated` holds exactly the docs flagged keep = 1.

    quality: dup_recall, planted duplicates dropped over planted duplicates;
    unique_keep_frac, clean unique docs kept over such docs."""
    docs = pq.read_table(os.path.join(data_dir, "input", "docs.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    roles = pq.read_table(os.path.join(data_dir, "truth", "roles.parquet")).to_pydict()
    flags = pq.read_table(os.path.join(out_dir, "curation_flags")).to_pydict()
    errors = []
    ids = flags["doc_id"]
    if sorted(ids) != sorted(docs["doc_id"]):
        errors.append(f"flags cover {len(ids)} rows, corpus has {len(docs['doc_id'])} docs")
        return errors, {}
    row = {d: i for i, d in enumerate(ids)}
    flag = lambda name, d: flags[name][row[d]]

    keeper = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        h = hashlib.md5(t.encode()).digest()
        keeper[h] = min(keeper.get(h, d), d)
    wrong = [d for d, t in zip(docs["doc_id"], docs["text"])
             if flag("exact_keep", d) != int(keeper[hashlib.md5(t.encode()).digest()] == d)]
    if wrong:
        errors.append(f"exact_keep disagrees with md5 dedup on {len(wrong)} docs, e.g. {wrong[:3]}")

    groups = {}
    for d, r, g in zip(roles["doc_id"], roles["role"], roles["grp"]):
        if r in (HOT, COPY, NEAR, TWIN):
            groups.setdefault((r, g), []).append(d)
    dups = dropped = 0
    for (r, _), members in groups.items():
        lo = min(members)
        rest = [d for d in members if d != lo]
        dups += len(rest)
        dropped += sum(1 for d in rest if flag("keep", d) == 0)
        if r in (HOT, COPY) and any(flag("keep", d) for d in rest):
            errors.append(f"a planted copy other than doc {lo} was kept")
        if r == HOT and sum(flag("keep", d) for d in members) != 1:
            errors.append(f"hot text kept {sum(flag('keep', d) for d in members)} copies, not 1")
    dirty = [d for d, r in zip(roles["doc_id"], roles["role"])
             if r == CONTAM and flag("clean", d) != 0]
    if dirty:
        errors.append(f"{len(dirty)} contaminated docs were flagged clean")

    curated = pq.read_table(os.path.join(out_dir, "curated"), columns=["doc_id"])
    if sorted(curated["doc_id"].to_pylist()) != sorted(d for d in ids if flag("keep", d)):
        errors.append("curated output differs from the docs flagged keep = 1")

    unique = [d for d, r in zip(roles["doc_id"], roles["role"]) if r == UNIQUE]
    return errors, {
        "dup_recall": dropped / dups if dups else 0.0,
        "unique_keep_frac": sum(flag("keep", d) for d in unique) / len(unique) if unique else 0.0,
        "kept": sum(flags["keep"]),
    }
