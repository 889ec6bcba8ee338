"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, sizes)``: numpy draws from
``default_rng([seed, stream])`` so the same seed gives byte-identical
inputs, and nothing here touches Spark. The seed varies the CONTENT of
the inputs (sequences, positions, texts); the SHAPE (counts, lengths,
shares) is fixed per workload, so every request costs the same and the
per-op spread measures the host, not the inputs.
"""

from __future__ import annotations

import hashlib
from bisect import bisect_left, bisect_right
from dataclasses import dataclass, field

import numpy as np

_BASES = np.frombuffer(b"acgt", dtype=np.uint8)
_COMP = bytes.maketrans(b"acgt", b"tgca")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _dna(rng: np.random.Generator, n: int) -> bytes:
    return _BASES[rng.integers(0, 4, n)].tobytes()


def revcomp(s: str) -> str:
    return s.encode().translate(_COMP)[::-1].decode()


def digest(*parts) -> str:
    """Stable sha256 over the repr of the parts (the input-set hash)."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# genome_scan

@dataclass
class ScanInputs:
    genome: list[tuple[str, str]]                 # (accession, seq)
    requests: list[list[tuple[str, str]]]         # per request: (name, gene)
    # per request: (name, accession, start, end) in reference coordinates
    planted: list[list[tuple[str, str, int, int]]]

    def items_per_op(self) -> int:
        """Offsets scored by one request: bases x 2 strands x queries."""
        bases = sum(len(s) for _, s in self.genome)
        return bases * 2 * len(self.requests[0])

    def hash(self) -> str:
        return digest(self.genome, self.requests, self.planted)


def scan_inputs(seed: int, n_acc: int, acc_len: int, n_req: int,
                query_lens: tuple[int, ...], slot: int = 400) -> ScanInputs:
    """A multi-accession genome with every request's queries planted twice:
    once verbatim on the forward strand and once reverse-complemented (a
    reverse-strand hit). Plants sit in distinct ``slot``-sized cells, so no
    two plants fall inside one suppression window."""
    rng = _rng(seed, 1)
    seqs = [bytearray(_dna(rng, acc_len)) for _ in range(n_acc)]
    accs = [f"SCAN{seed % 10000:04d}_{i}" for i in range(n_acc)]
    requests = [[(f"r{r}q{j}", _dna(rng, L).decode()) for j, L in enumerate(query_lens)]
                for r in range(n_req)]
    n_plants = n_req * len(query_lens) * 2
    cells_per_acc = acc_len // slot
    if n_plants > n_acc * cells_per_acc:
        raise ValueError("genome too short for the planted sites")
    cells = rng.choice(n_acc * cells_per_acc, size=n_plants, replace=False)
    planted: list[list[tuple[str, str, int, int]]] = []
    k = 0
    for req in requests:
        sites = []
        for name, gene in req:
            L = len(gene)
            for strand in "+-":
                a, c = divmod(int(cells[k]), cells_per_acc)
                k += 1
                p = c * slot + int(rng.integers(0, slot - L))
                text = gene if strand == "+" else revcomp(gene)
                seqs[a][p:p + L] = text.encode()
                # forward rows: start=p+1, end=p+L; reverse rows report
                # start > end (the reference's strand encoding)
                sites.append((name, accs[a], p + 1, p + L) if strand == "+"
                             else (name, accs[a], p + L, p + 1))
        planted.append(sites)
    genome = [(a, bytes(s).decode()) for a, s in zip(accs, seqs)]
    return ScanInputs(genome, requests, planted)


def check_scan(rows: list[tuple[str, str, str, int, int]],
               planted: list[tuple[str, str, int, int]]) -> list[str]:
    """rows: (name, accession, strand, start, end) of one request's top-k.
    Every planted homolog must appear with exact coordinates, and a
    reverse-complement plant must come back on the '-' strand."""
    got = {(n, a, s, e): st for n, a, st, s, e in rows}
    errors = []
    for name, acc, s, e in planted:
        strand = got.get((name, acc, s, e))
        want = "+" if s < e else "-"
        if strand is None:
            errors.append(f"planted {name} {acc}:{s}-{e} missing from top-k")
        elif strand != want:
            errors.append(f"planted {name} {acc}:{s}-{e} on strand {strand}")
    return errors


# --------------------------------------------------------------------------
# gene_annotate

_GENERA = ["Escherichia", "Salmonella", "Bacillus", "Vibrio", "Listeria",
           "Shigella", "Klebsiella", "Pseudomonas"]


@dataclass
class Genome:
    accession: str
    source: str
    seq: str
    # sorted, non-overlapping: (left, right, strand, gene)
    genes: list[tuple[int, int, str, str]] = field(default_factory=list)


@dataclass
class AnnotateInputs:
    genomes: list[Genome]
    # per request: (accession, match_id, start, end); start > end = reverse
    requests: list[list[tuple[str, int, int, int]]]

    def items_per_op(self) -> int:
        return len(self.requests[0])

    def pairs_tested(self) -> int:
        """Sum over accessions of matches x annotation records."""
        n = {g.accession: len(g.genes) for g in self.genomes}
        return sum(n[a] for a, _, _, _ in self.requests[0])

    def hash(self) -> str:
        return digest([(g.accession, g.source, g.seq, g.genes) for g in self.genomes],
                      self.requests)


def annotate_inputs(seed: int, n_acc: int, n_genes: int, n_req: int,
                    matches_per_acc: int) -> AnnotateInputs:
    """Genomes with ``n_genes`` non-overlapping genes each (300-1500 bp,
    60-400 bp gaps) and match batches that are a quarter inside genes, a
    quarter across a gene's left edge, a quarter across its right edge
    and a quarter inter-genic; half of them reverse (start > end)."""
    rng = _rng(seed, 2)
    genomes = []
    for i in range(n_acc):
        lens = rng.integers(300, 1500, n_genes)
        gaps = rng.integers(60, 400, n_genes)
        lefts = np.cumsum(gaps + np.concatenate([[0], lens[:-1]])) + 1
        rights = lefts + lens - 1
        strands = np.where(rng.random(n_genes) < 0.5, "+", "-")
        acc = f"BNC{seed % 10000:04d}{i:02d}.1"
        genus = _GENERA[(seed + i) % len(_GENERA)]
        genes = [(int(l), int(r), str(s), f"g{i}_{k}")
                 for k, (l, r, s) in enumerate(zip(lefts, rights, strands))]
        seq = _dna(rng, int(rights[-1]) + 200).decode()
        genomes.append(Genome(acc, f"{genus} synthetica str. B{i}", seq, genes))

    requests = []
    for r in range(n_req):
        batch = []
        for g in genomes:
            picks = rng.choice(len(g.genes), size=matches_per_acc, replace=False)
            for j, gi in enumerate(picks):
                left, right, _, _ = g.genes[int(gi)]
                L = int(rng.integers(20, 41))
                kind = j % 4
                if kind == 0:      # inside the gene
                    a = left + int(rng.integers(0, right - left - L))
                elif kind == 1:    # across the left edge
                    a = left - int(rng.integers(1, L - 1))
                elif kind == 2:    # across the right edge
                    a = right - L + 1 + int(rng.integers(1, L - 1))
                else:              # in the gap after the gene (>= 60 bp)
                    a = right + 1 + int(rng.integers(1, 60 - L - 1)) if L < 58 else right + 2
                b = a + L - 1
                mid = len(batch)
                batch.append((g.accession, mid, b, a) if rng.random() < 0.5
                             else (g.accession, mid, a, b))
        requests.append(batch)
    return AnnotateInputs(genomes, requests)


def _status(rl: int, rr: int, l: int, r: int) -> str:
    """Pure-Python twin of plans.location.interval_status."""
    if r < rl:
        return "TotallyLeft"
    if l < rl <= r < rr:
        return "IntersectLeft"
    if l < rl <= rr <= r:
        return "CoverLeft"
    if rl <= l <= r <= rr:
        return "Inner"
    if l <= rl <= rr < r:
        return "CoverRight"
    if rl < l <= rr < r:
        return "IntersectRight"
    if rr < l:
        return "TotallyRight"
    return "Cover"


def _label(status: str, strand: str) -> str:
    fwd = strand == "+"
    if status in ("IntersectLeft", "CoverLeft"):
        return "5'" if fwd else "3'"
    if status in ("IntersectRight", "CoverRight"):
        return "3'" if fwd else "5'"
    return {"Inner": "cds", "Cover": "cover"}.get(status, "inter-genic")


def annotate_model(inputs: AnnotateInputs, request: int):
    """Bisect model of one request: (locate rows, neighbor rows,
    source counts).

    locate rows: {(match_id, rec_name, label)}; neighbor rows:
    {match_id: (left_gene, right_gene, overlap_genes)}."""
    by_acc = {g.accession: (g, [x[0] for x in g.genes], [x[1] for x in g.genes])
              for g in inputs.genomes}
    located, neighbors, sources = set(), {}, {}
    for acc, mid, s, e in inputs.requests[request]:
        g, lefts, rights = by_acc[acc]
        l, r = min(s, e), max(s, e)
        # genes are sorted and disjoint: overlaps are a contiguous run
        lo, hi = bisect_left(rights, l), bisect_right(lefts, r)
        over = g.genes[lo:hi]
        labeled = [(name, _label(_status(gl, gr, l, r), st))
                   for gl, gr, st, name in over]
        labeled = [x for x in labeled if x[1] != "inter-genic"]
        i_left = bisect_right(rights, l) - 1
        i_right = bisect_left(lefts, r)
        left_name = g.genes[i_left][3] if i_left >= 0 else None
        right_name = g.genes[i_right][3] if i_right < len(g.genes) else None
        if labeled:
            located.update((mid, n, lab) for n, lab in labeled)
        else:
            located.add((mid, f"inter-genic of {left_name}, {right_name}", "inter-genic"))
        neighbors[mid] = (
            left_name, right_name,
            ",".join(sorted(x[3] for x in over)) if over else None)
        prefix = " ".join(g.source.split()[:2])
        sources[prefix] = sources.get(prefix, 0) + 1
    return located, neighbors, sources


_GB_HEAD = """LOCUS       {acc:<16} {n:>8} bp    DNA     circular BCT 01-JAN-2020
DEFINITION  {src}, complete genome.
ACCESSION   {base}
VERSION     {acc}
SOURCE      {src}
  ORGANISM  {src}
FEATURES             Location/Qualifiers
     source          1..{n}
                     /organism="{src}"
"""


def genbank_text(g: Genome) -> str:
    """GenBank flat file in the shape of a real NCBI record: header,
    ``gene`` features with plain and ``complement(..)`` locations and
    ``/gene``, ``/locus_tag``, ``/db_xref`` qualifiers, then ORIGIN in 60-base
    lines of 10-base groups."""
    out = [_GB_HEAD.format(acc=g.accession, base=g.accession.split(".")[0],
                           n=len(g.seq), src=g.source)]
    for k, (left, right, strand, name) in enumerate(g.genes):
        loc = f"{left}..{right}" if strand == "+" else f"complement({left}..{right})"
        out.append(f"     gene            {loc}\n"
                   f"                     /gene=\"{name}\"\n"
                   f"                     /locus_tag=\"B{k:05d}\"\n"
                   f"                     /db_xref=\"GeneID:{900000 + k}\"\n")
    out.append("ORIGIN\n")
    seq = g.seq
    for pos in range(0, len(seq), 60):
        line = seq[pos:pos + 60]
        groups = " ".join(line[i:i + 10] for i in range(0, len(line), 10))
        out.append(f"{pos + 1:>9} {groups}\n")
    out.append("//\n")
    return "".join(out)


# --------------------------------------------------------------------------
# curate_batch / curate_stream corpora

def _vocab(rng: np.random.Generator, n: int, alphabet: str) -> np.ndarray:
    letters = np.array(list(alphabet))
    lens = rng.integers(3, 9, n)
    words = {"".join(letters[rng.integers(0, len(letters), k)]) for k in lens}
    return np.array(sorted(words))


def _doc(rng, vocab, lo=12, hi=24) -> list[str]:
    return list(vocab[rng.integers(0, len(vocab), int(rng.integers(lo, hi)))])


@dataclass
class Corpus:
    docs: list[tuple[int, str]]                  # (doc_id, text)
    near_dup_pairs: set[tuple[int, int]]         # planted (lo_id, hi_id)

    def hash(self) -> str:
        return digest(self.docs)


def batch_corpus(seed: int, stream: int, n_docs: int, exact_share: float = 0.1,
                 near_share: float = 0.1, contam_share: float = 0.05,
                 lowq_share: float = 0.1) -> Corpus:
    """documents(doc_id, text) for curate_corpus. ``doc_id % 97 == 0`` is
    the held-out benchmark split (the ``curation_pipeline`` query's
    convention). Docs are 12-24 tokens: the DuckDB oracle's shingle SQL
    re-splits the text once per shingle, so its cost grows with the
    square of doc length. Shares: exact copies (re-cased, re-spaced),
    near copies (one token replaced), contaminated docs (the first 12
    tokens of a benchmark doc), low-quality docs (five tokens repeated)."""
    rng = _rng(seed, 100 + stream)
    vocab = _vocab(rng, 6000, "abcdefghijklmnopqrstuvwxyz")
    ids = np.arange(1, n_docs + 1)
    bench = [int(i) for i in ids if i % 97 == 0]
    toks: dict[int, list[str]] = {b: _doc(rng, vocab) for b in bench}
    kinds = rng.choice(5, size=n_docs,
                       p=[1 - exact_share - near_share - contam_share - lowq_share,
                          exact_share, near_share, contam_share, lowq_share])
    text: dict[int, str] = {}
    near: set[tuple[int, int]] = set()
    base: list[int] = []
    for i, kind in zip(ids.tolist(), kinds.tolist()):
        if i % 97 == 0:
            text[i] = " ".join(toks[i])
        elif kind == 0 or not base:
            toks[i] = _doc(rng, vocab)
            text[i] = " ".join(toks[i])
            base.append(i)
        elif kind == 1:
            src = base[int(rng.integers(0, len(base)))]
            text[i] = "  " + text[src].upper() + " "
        elif kind == 2:
            src = base[int(rng.integers(0, len(base)))]
            t = list(toks[src])
            t[int(rng.integers(0, len(t)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            text[i] = " ".join(t)
            near.add((src, i))
        elif kind == 3:
            b = bench[int(rng.integers(0, len(bench)))]
            text[i] = " ".join(_doc(rng, vocab, 6, 10) + toks[b][:12])
        else:
            few = vocab[rng.integers(0, len(vocab), 5)]
            text[i] = " ".join(few[rng.integers(0, 5, int(rng.integers(12, 24)))])
    return Corpus([(i, text[i]) for i in ids.tolist()], near)


@dataclass
class StreamInputs:
    bench: list[tuple[int, str]]                 # (bench_id, text)
    good: list[tuple[int, str]]                  # classifier training: target
    junk: list[tuple[int, str]]                  # classifier training: non-target
    # per request: files, each a list of doc texts (ids are assigned on arrival)
    requests: list[list[list[str]]]

    def hash(self) -> str:
        return digest(self.bench, self.good, self.junk, self.requests)


def stream_inputs(seed: int, n_req: int, files: int, docs_per_file: int,
                  contam_share: float = 0.1, junk_share: float = 0.2) -> StreamInputs:
    """Arriving batches for the streaming curation gate: clean docs from a
    natural-language-like vocabulary, junk docs from a digit-heavy
    vocabulary (the quality gate's negatives), and near copies of
    held-out benchmark docs (the fuzzy decontamination gate's hits)."""
    rng = _rng(seed, 3)
    vocab = _vocab(rng, 5000, "abcdefghijklmnopqrstuvwxyz")
    junk_vocab = _vocab(rng, 800, "0123456789xz#")
    bench_t = [_doc(rng, vocab) for _ in range(60)]
    bench = [(k, " ".join(t)) for k, t in enumerate(bench_t)]
    good = [(k, " ".join(_doc(rng, vocab))) for k in range(400)]
    junk = [(k, " ".join(_doc(rng, junk_vocab))) for k in range(400)]
    requests = []
    for _ in range(n_req):
        batch = []
        for _ in range(files):
            f = []
            for _ in range(docs_per_file):
                u = rng.random()
                if u < contam_share:
                    t = list(bench_t[int(rng.integers(0, len(bench_t)))])
                    t[int(rng.integers(0, len(t)))] = str(vocab[int(rng.integers(0, len(vocab)))])
                elif u < contam_share + junk_share:
                    t = _doc(rng, junk_vocab)
                else:
                    t = _doc(rng, vocab)
                f.append(" ".join(t))
            batch.append(f)
        requests.append(batch)
    return StreamInputs(bench, good, junk, requests)
