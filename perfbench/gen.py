"""Seeded input generators and the ground truth they know.

Pure Python (plus NumPy for embeddings); nothing here touches Spark or
``bio2bel_spark``. The same seed yields byte-identical input files: every
random stream is a ``random.Random`` seeded from a string, and nothing
iterates a set or dict of strings whose order could depend on hashing.
"""

from __future__ import annotations

import bisect
import datetime
import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np


def rng(seed: int, stream: str) -> random.Random:
    """Independent, reproducible random stream per (seed, purpose)."""
    return random.Random(f"{seed}:{stream}")


def write_tsv(path: str, header: list[str], rows) -> int:
    """Write a header + rows TSV; returns its size in bytes."""
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write("\t".join(header) + "\n")
        for row in rows:
            fh.write("\t".join(str(v) for v in row) + "\n")
    return os.path.getsize(path)


class Zipf:
    """Rank sampler with P(rank r) proportional to 1 / r**s over ``n`` ranks,
    mapped onto items through a seeded permutation so hot keys are not
    simply the smallest ids."""

    def __init__(self, n: int, s: float, r: random.Random):
        acc, cdf = 0.0, []
        for rank in range(1, n + 1):
            acc += rank ** -s
            cdf.append(acc)
        self.cdf = [c / acc for c in cdf]
        self.perm = list(range(n))
        r.shuffle(self.perm)

    def draw(self, r: random.Random) -> int:
        return self.perm[min(bisect.bisect_left(self.cdf, r.random()), len(self.perm) - 1)]


# --------------------------------------------------------------- kg_populate


def _mi(code: str, label: str) -> str:
    return f'psi-mi:"MI:{code}"({label})'


#: PSI-MI interaction types each source maps to a relation
INTACT_TYPES = [
    _mi("0915", "physical association"),
    _mi("0914", "association"),
    _mi("0407", "direct interaction"),
    _mi("0217", "phosphorylation reaction"),
    _mi("0195", "covalent binding"),
    _mi("0220", "ubiquitination reaction"),
]
BIOGRID_TYPES = [
    _mi("0794", "synthetic genetic interaction defined by inequality"),
    _mi("0915", "physical association"),
    _mi("0914", "association"),
    _mi("0407", "direct interaction"),
]
UNHANDLED_TYPE = _mi("0001", "interaction detection method")
OMITTED_TYPE = _mi("1110", "predicted interaction")
MITAB_HEADER = [
    "interactor_a", "interactor_b", "interaction_type", "publications",
    "detection_method", "source_database", "confidence",
]


@dataclass
class PopulateInputs:
    """Raw TSV inputs of the three sources plus what populating them must
    commit. ``paths[source]`` is the ``input_paths`` mapping the source's
    Dataset reads."""

    paths: dict = field(default_factory=dict)
    raw_rows: dict = field(default_factory=dict)
    expected_edges: dict = field(default_factory=dict)
    expected_rejects: dict = field(default_factory=dict)
    input_bytes: int = 0
    upsert_base: str = ""
    upsert_keys: list = field(default_factory=list)
    seed: int = 0
    out_dir: str = ""
    delta_rows: int = 0

    def delta(self, cycle: int) -> tuple[str, int, int]:
        """Write the upsert delta of ``cycle``: about 90% keys already in the
        genes table, the rest new. Returns (path, rows, expected additions)
        and records the additions, so deltas must be taken in cycle order."""
        r = rng(self.seed, f"delta:{cycle}")
        n_old = int(self.delta_rows * 0.9)
        old = r.sample(self.upsert_keys, n_old)
        start = max(self.upsert_keys) + 1
        new = list(range(start, start + self.delta_rows - n_old))
        keys = old + new
        r.shuffle(keys)
        path = os.path.join(self.out_dir, f"genes_delta_{cycle}.tsv")
        self.input_bytes += write_tsv(
            path, ["ncbigene_id", "symbol"], ((k, f"SYM{k}") for k in keys)
        )
        self.upsert_keys.extend(new)
        return path, len(keys), len(new)


def make_populate(seed: int, out_dir: str, n_intact: int, n_biogrid: int,
                  n_tf: int, n_genes: int, delta_rows: int) -> PopulateInputs:
    os.makedirs(out_dir, exist_ok=True)
    inp = PopulateInputs(seed=seed, out_dir=out_dir, delta_rows=delta_rows)

    def out(name):
        return os.path.join(out_dir, name)

    # ---- intact: uniprot / chebi interactors; planted unmapped, EBI,
    # unhandled-type, omitted-type and missing-field rows
    r = rng(seed, "intact")
    n_prot = 5000
    mapped = [k for k in range(n_prot) if k % 10 < 7]
    rows, edges, rejects = [], 0, 0
    for i in range(n_intact):
        def interactor():
            k = r.randrange(n_prot)
            return f"uniprotkb:P{k:05d}" if r.random() < 0.75 else f'chebi:"CHEBI:{k}"'

        a, b = interactor(), interactor()
        typ = r.choice(INTACT_TYPES)
        pubs = f"imex:IM-{r.randrange(9999)}|pubmed:{r.randrange(10**7)}"
        u = r.random()
        kept, reject = True, False
        if u < 0.02:
            typ, kept = OMITTED_TYPE, False
        elif u < 0.03:
            pubs, kept = "", False  # a missing field drops the row
        elif u < 0.07:
            a, reject = f"dip:DIP-{r.randrange(99999)}N", True
        elif u < 0.10:
            b, reject = f"intact:EBI-{r.randrange(99999)}", True
        elif u < 0.12:
            typ, reject = UNHANDLED_TYPE, True
        if kept:
            rejects += reject
            edges += not reject
        rows.append((a, b, typ, pubs, _mi("0018", "two hybrid"),
                     _mi("0469", "IntAct"), f"intact-miscore:0.{r.randrange(100):02d}"))
    inp.input_bytes += write_tsv(out("intact.tsv"), MITAB_HEADER, rows)
    inp.input_bytes += write_tsv(
        out("intact_uniprot_ncbigene.tsv"), ["uniprot_id", "ncbigene_id"],
        ((f"P{k:05d}", 100000 + k) for k in mapped),
    )
    inp.paths["intact"] = {"raw": out("intact.tsv"),
                           "uniprot_ncbigene": out("intact_uniprot_ncbigene.tsv")}
    inp.raw_rows["intact"], inp.expected_edges["intact"] = n_intact, edges
    inp.expected_rejects["intact"] = rejects

    # ---- biogrid: ncbigene / biogrid-mapped interactors; planted unmapped,
    # non-pubmed and unhandled-type rows
    r = rng(seed, "biogrid")
    n_bg = 8000
    bg_mapped = [k for k in range(n_bg) if k % 10 < 8]
    rows, edges, rejects = [], 0, 0
    for i in range(n_biogrid):
        def interactor():
            k = r.randrange(n_bg)
            if r.random() < 0.5:
                return f"entrez gene/locuslink:{200000 + k}", True
            return f"biogrid:{k}", k % 10 < 8

        (a, oka), (b, okb) = interactor(), interactor()
        ok = oka and okb
        typ = r.choice(BIOGRID_TYPES)
        pubs = f"pubmed:{r.randrange(10**7)}"
        u = r.random()
        if u < 0.03:
            a, ok = f"uniprot/swiss-prot:Q{r.randrange(99999):05d}", False
        elif u < 0.06:
            pubs, ok = f"doi:10.1000/{r.randrange(10**6)}", False
        elif u < 0.08:
            typ, ok = UNHANDLED_TYPE, False
        edges += ok
        rejects += not ok
        rows.append((a, b, typ, pubs, _mi("0018", "two hybrid"),
                     _mi("0463", "biogrid"), "-"))
    inp.input_bytes += write_tsv(out("biogrid.tsv"), MITAB_HEADER, rows)
    inp.input_bytes += write_tsv(
        out("biogrid_map.tsv"), ["biogrid_id", "ncbigene_id"],
        ((k, 200000 + k) for k in bg_mapped),
    )
    inp.paths["biogrid"] = {"raw": out("biogrid.tsv"),
                            "biogrid_map": out("biogrid_map.tsv")}
    inp.raw_rows["biogrid"], inp.expected_edges["biogrid"] = n_biogrid, edges
    inp.expected_rejects["biogrid"] = rejects

    # ---- tfregulons: HGNC-grounded TF -> target rows; planted low scores,
    # unmapped symbols and zero effects
    r = rng(seed, "tfregulons")
    n_tfs, n_targets = 400, 4000
    rows, edges, kept_rows, targets = [], 0, 0, {}
    for i in range(n_tf):
        tf, tg = r.randrange(n_tfs), r.randrange(n_targets)
        score = r.choice("ABC") if r.random() < 0.8 else r.choice("DE")
        effect = r.choice((1, 1, -1)) if r.random() < 0.95 else 0
        pmids = r.sample(range(10**7), r.randint(1, 3))
        rows.append((f"TF{tf}", f"G{tg}", effect, score, ",".join(map(str, pmids))))
        # symbols with index % 20 == 19 are absent from the HGNC map
        if score in "ABC" and tf % 20 != 19 and tg % 20 != 19:
            kept_rows += 1
            if effect:
                edges += 2 * len(pmids)
                targets[tg] = True
    edges += len(targets)  # one transcribedTo edge per distinct target
    inp.input_bytes += write_tsv(
        out("tfregulons.tsv"),
        ["tf_hgnc_symbol", "target_hgnc_symbol", "effect", "score", "pmids"], rows,
    )
    hgnc = [(f"TF{k}", f"HGNC:{k}") for k in range(n_tfs) if k % 20 != 19]
    hgnc += [(f"G{k}", f"HGNC:{10000 + k}") for k in range(n_targets) if k % 20 != 19]
    inp.input_bytes += write_tsv(out("hgnc_map.tsv"), ["hgnc_symbol", "hgnc_id"], hgnc)
    inp.paths["tfregulons"] = {"raw": out("tfregulons.tsv"),
                               "hgnc_map": out("hgnc_map.tsv")}
    inp.raw_rows["tfregulons"], inp.expected_edges["tfregulons"] = n_tf, edges
    inp.expected_rejects["tfregulons"] = n_tf - kept_rows

    # ---- the keyed genes table that each cycle upserts into
    inp.upsert_keys = list(range(n_genes))
    inp.upsert_base = out("genes_base.tsv")
    inp.input_bytes += write_tsv(
        inp.upsert_base, ["ncbigene_id", "symbol"],
        ((k, f"SYM{k}") for k in inp.upsert_keys),
    )
    return inp


# ------------------------------------------------------------- catalog_serve

EX = "http://bench.example/"
REQUEST_MIX = (("lookup", 0.4), ("enrich", 0.3), ("sparql", 0.2), ("actions", 0.1))
BLOCK = 10  # requests per block; every block holds the exact mix
SPARQL_SHAPES = ("hop", "group", "path")
ACTION_LABELS = ("populate", "drop", "compact", "populate_failed")


@dataclass
class ServeInputs:
    """Catalog contents for the read path, their indexes, and the per-client
    request streams. ``expected(request)`` answers any request in Python."""

    paths: dict = field(default_factory=dict)
    members: list = field(default_factory=list)      # pathway -> proteins
    pathways_of: list = field(default_factory=list)  # protein -> pathways
    parent: list = field(default_factory=list)       # pathway -> parent or -1
    latest_action: dict = field(default_factory=dict)
    n_proteins: int = 0
    streams: list = field(default_factory=list)

    def expected(self, req: tuple):
        kind = req[0]
        if kind == "lookup":
            return sorted(self.members[req[1]])
        if kind == "enrich":
            symbols, query = req[1], req[2]
            hits = {}
            for sym in symbols:
                for pw in self.pathways_of[int(sym[4:])]:
                    hits.setdefault(pw, []).append(sym)
            enrich = {
                f"pw{pw}": (len(syms), len(self.members[pw]), sorted(syms))
                for pw, syms in hits.items()
            }
            genes = [f"GENE{k}" for k in range(self.n_proteins) if query in f"gene{k}"]
            return enrich, genes
        if kind == "sparql":
            shape, pw = req[1], req[2]
            if shape == "hop":
                return sorted(f"{EX}p{k}" for k in self.members[pw])
            if shape == "group":
                out = {f"{EX}member": len(self.members[pw])}
                if self.parent[pw] >= 0:
                    out[f"{EX}partOf"] = 1
                return out
            chain, k = [], self.parent[pw]
            while k >= 0:
                chain.append(f"{EX}pw{k}")
                k = self.parent[k]
            return sorted(chain)
        return dict(self.latest_action)


def warmup_requests() -> list:
    """One request of every kind and SPARQL shape, on fixed keys."""
    return [("lookup", 1), ("enrich", ["GENE1", "GENE2", "GENE3"], "gene1"),
            ("sparql", "hop", 1), ("sparql", "group", 1), ("sparql", "path", 5),
            ("actions",)]


def sparql_text(shape: str, pw: int) -> str:
    node = f"ex:pw{pw}"
    if shape == "hop":
        return f"SELECT ?o WHERE {{ {node} ex:member ?o }}"
    if shape == "group":
        return f"SELECT ?p (COUNT(?o) AS ?n) WHERE {{ {node} ?p ?o }} GROUP BY ?p"
    return f"SELECT ?a WHERE {{ {node} ex:partOf+ ?a }}"


def make_serve(seed: int, out_dir: str, n_pathways: int, n_proteins: int,
               mean_members: int, n_clients: int, stream_len: int,
               zipf_s: float = 1.1) -> ServeInputs:
    os.makedirs(out_dir, exist_ok=True)
    inp = ServeInputs(n_proteins=n_proteins)
    r = rng(seed, "serve")

    def out(name):
        return os.path.join(out_dir, name)

    inp.members = [
        sorted(r.sample(range(n_proteins), r.randint(1, 2 * mean_members - 1)))
        for _ in range(n_pathways)
    ]
    inp.pathways_of = [[] for _ in range(n_proteins)]
    for pw, prots in enumerate(inp.members):
        for p in prots:
            inp.pathways_of[p].append(pw)
    # a 4-ary pathway hierarchy: bounded depth for the p+ path requests
    inp.parent = [-1] + [(k - 1) // 4 for k in range(1, n_pathways)]

    write_tsv(out("pathway.tsv"), ["pathway_id", "prefix", "identifier", "name"],
              ((f"pw{k}", "kegg", f"hsa{k:05d}", f"pathway {k}") for k in range(n_pathways)))
    write_tsv(out("protein.tsv"), ["protein_id", "entrez_id", "hgnc_id", "hgnc_symbol"],
              ((f"p{k}", 10000 + k, f"HGNC:{k}", f"GENE{k}") for k in range(n_proteins)))
    write_tsv(out("membership.tsv"), ["pathway_id", "protein_id"],
              ((f"pw{pw}", f"p{p}") for pw, ps in enumerate(inp.members) for p in ps))
    triples = [(f"{EX}pw{pw}", f"{EX}member", f"{EX}p{p}")
               for pw, ps in enumerate(inp.members) for p in ps]
    triples += [(f"{EX}pw{k}", f"{EX}partOf", f"{EX}pw{inp.parent[k]}")
                for k in range(1, n_pathways)]
    write_tsv(out("triples.tsv"), ["s", "p", "o"], triples)

    # a provenance log with distinct timestamps, so "latest" is unambiguous
    rows, t0 = [], datetime.datetime(2020, 1, 1)
    for offset in sorted(r.sample(range(10**9), 1000)):
        res, act = f"res{r.randrange(40)}", r.choice(ACTION_LABELS)
        ts = t0 + datetime.timedelta(milliseconds=offset)
        rows.append((res, act, ts.strftime("%Y-%m-%d %H:%M:%S.%f")))
        inp.latest_action[res] = act  # rows are in time order
    write_tsv(out("actions.tsv"), ["resource", "action", "created"], rows)
    inp.paths = {n: out(f"{n}.tsv")
                 for n in ("pathway", "protein", "membership", "triples", "actions")}

    pw_keys = Zipf(n_pathways, zipf_s, r)
    gene_keys = Zipf(n_proteins, zipf_s, r)
    # every block of ten requests holds the exact mix, in a seeded order
    block = [k for k, share in REQUEST_MIX for _ in range(round(share * BLOCK))]
    for c in range(n_clients):
        cr = rng(seed, f"client:{c}")
        stream = []
        while len(stream) < stream_len:
            kinds = list(block)
            cr.shuffle(kinds)
            # one bounded path per block; the other SPARQL slot alternates
            # between the 1-hop and the GROUP BY pattern from block to block
            shapes = [SPARQL_SHAPES[len(stream) // BLOCK % 2], "path"]
            for kind in kinds:
                if kind == "lookup":
                    stream.append(("lookup", pw_keys.draw(cr)))
                elif kind == "enrich":
                    size = cr.randint(3, 20)
                    syms = []
                    while len(syms) < size:
                        s = f"GENE{gene_keys.draw(cr)}"
                        if s not in syms:
                            syms.append(s)
                    stream.append(("enrich", syms, f"gene{gene_keys.draw(cr)}"))
                elif kind == "sparql":
                    stream.append(("sparql", shapes.pop(0), pw_keys.draw(cr)))
                else:
                    stream.append(("actions",))
        inp.streams.append(stream)
    return inp


# ------------------------------------------------------------- corpus_curate

LANG_WORDS = {  # stopwords unique to one language profile of textquality
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "es": ["el", "que", "y", "los", "del", "se", "las"],
    "fr": ["le", "et", "les", "des", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}


def md5_32(text: str) -> int:
    """The repo's portable 32-bit hash: first 8 hex digits of md5."""
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)


def shingle_set(text: str, n: int = 3) -> set:
    words = text.split(" ")
    if len(words) < n:
        return {md5_32(text)}
    return {md5_32(" ".join(words[i:i + n])) for i in range(len(words) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


@dataclass
class CurateInputs:
    docs_path: str = ""
    emb_path: str = ""
    heldout_path: str = ""
    n_docs: int = 0
    input_bytes: int = 0
    texts: dict = field(default_factory=dict)        # doc_id -> text
    lang: dict = field(default_factory=dict)         # doc_id -> language
    families: list = field(default_factory=list)     # planted near-dup doc ids
    exact_copies: dict = field(default_factory=dict)  # copy id -> source id
    vectors: dict = field(default_factory=dict)       # vec_id -> np.ndarray
    emb_families: list = field(default_factory=list)
    heldout: dict = field(default_factory=dict)       # bench id -> text
    contaminated: dict = field(default_factory=dict)  # bench id -> source doc


def make_curate(seed: int, out_dir: str, n_docs: int, n_vectors: int,
                n_heldout: int, dim: int = 32) -> CurateInputs:
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "curate")
    inp = CurateInputs(n_docs=n_docs)
    vocab = 20000
    langs = list(LANG_WORDS)

    def fresh_doc(lang):
        # two leading stopwords fix the language; edits never touch them
        words = [r.choice(LANG_WORDS[lang]), r.choice(LANG_WORDS[lang])]
        for _ in range(r.randint(40, 80)):
            if r.random() < 0.15:
                words.append(r.choice(LANG_WORDS[lang]))
            else:
                words.append(f"w{r.randrange(vocab)}")
        return words

    def edit(words, n_edits):
        out = list(words)
        for pos in r.sample(range(2, len(out)), n_edits):
            out[pos] = f"v{r.randrange(vocab)}"
        return out

    ids = list(range(n_docs))
    r.shuffle(ids)
    slots, docs = iter(ids), []
    n_family_docs, n_copies = int(n_docs * 0.2), int(n_docs * 0.1)
    while n_family_docs > 1:
        lang = r.choice(langs)
        base = fresh_doc(lang)
        size = min(r.randint(2, 5), n_family_docs)
        fam = []
        for j in range(size):
            words = base if j == 0 else edit(base, r.randint(1, 3))
            did = next(slots)
            docs.append((did, " ".join(words), lang))
            fam.append(did)
        inp.families.append(fam)
        n_family_docs -= size
    plain = []
    for _ in range(n_docs - len(docs) - n_copies):
        lang = r.choice(langs)
        did = next(slots)
        docs.append((did, " ".join(fresh_doc(lang)), lang))
        plain.append(did)
    by_id = {d: (t, l) for d, t, l in docs}
    for src in r.sample(plain, n_copies):
        did = next(slots)
        docs.append((did, by_id[src][0], by_id[src][1]))
        inp.exact_copies[did] = src
    docs.sort()
    inp.texts = {d: t for d, t, _ in docs}
    inp.lang = {d: l for d, _, l in docs}
    inp.docs_path = os.path.join(out_dir, "docs.tsv")
    inp.input_bytes += write_tsv(inp.docs_path, ["doc_id", "text"],
                                 ((d, t) for d, t, _ in docs))

    # held-out set: half contaminated (a copy or a 1-2 word edit of a corpus
    # document that survives exact dedup), half unrelated
    copied = {src for src in inp.exact_copies.values()}
    unique_plain = [d for d in plain if d not in copied]
    rows = []
    for b, src in enumerate(r.sample(unique_plain, n_heldout // 2)):
        words = inp.texts[src].split(" ")
        text = " ".join(words if b % 2 == 0 else edit(words, r.randint(1, 2)))
        inp.heldout[b] = text
        inp.contaminated[b] = src
        rows.append((b, text))
    for b in range(n_heldout // 2, n_heldout):
        inp.heldout[b] = " ".join(fresh_doc(r.choice(langs)))
        rows.append((b, inp.heldout[b]))
    inp.heldout_path = os.path.join(out_dir, "heldout.tsv")
    inp.input_bytes += write_tsv(inp.heldout_path, ["doc_id", "text"], rows)

    # embeddings: random unit vectors; 20% in tight planted families
    g = np.random.default_rng(r.randrange(2**32))
    vids = list(range(n_vectors))
    r.shuffle(vids)
    k, n_fam = 0, int(n_vectors * 0.2)
    while k < n_fam - 1:
        base = g.standard_normal(dim)
        size = min(int(g.integers(2, 5)), n_fam - k)
        fam = sorted(vids[k:k + size])
        for vid in fam:
            inp.vectors[vid] = base / np.linalg.norm(base) + g.normal(0, 0.02, dim)
        inp.emb_families.append(fam)
        k += size
    for vid in vids[k:]:
        inp.vectors[vid] = g.standard_normal(dim)
    inp.vectors = dict(sorted(inp.vectors.items()))
    inp.emb_path = os.path.join(out_dir, "embeddings.tsv")
    inp.input_bytes += write_tsv(
        inp.emb_path, ["vec_id", "embedding"],
        ((k, ",".join(f"{x:.6f}" for x in v)) for k, v in inp.vectors.items()),
    )
    # the file holds 6-digit values: answers are checked against those
    inp.vectors = {k: np.round(v, 6) for k, v in inp.vectors.items()}
    return inp


@dataclass
class CurateTruth:
    """What the curation pipeline must produce, computed in plain Python."""

    n_exact_survivors: int = 0
    tokens: int = 0
    chars: int = 0
    lang_counts: dict = field(default_factory=dict)
    fuzzy_component: dict = field(default_factory=dict)  # doc -> component min
    span_kept: int = 0
    span_dropped: int = 0
    contamination_pairs: dict = field(default_factory=dict)  # (doc, bench) -> J
    emb_pairs: dict = field(default_factory=dict)             # (a, b) -> cosine


def curate_truth(inp: CurateInputs, fuzzy_threshold: float = 0.8,
                 span_n: int = 8, decon_threshold: float = 0.5,
                 cos_threshold: float = 0.95) -> CurateTruth:
    t = CurateTruth()
    for d, text in inp.texts.items():
        t.tokens += len(text.split(" "))
        t.chars += len(text)
        t.lang_counts[inp.lang[d]] = t.lang_counts.get(inp.lang[d], 0) + 1
    first = {}
    for d in sorted(inp.texts):
        first.setdefault(inp.texts[d], d)
    survivors = sorted(first.values())
    t.n_exact_survivors = len(survivors)

    # near-duplicate components: verified pairs inside each planted family
    for fam in inp.families:
        sh = {d: shingle_set(inp.texts[d]) for d in fam}
        parent = {d: d for d in fam}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for i, a in enumerate(fam):
            for b in fam[i + 1:]:
                if jaccard(sh[a], sh[b]) >= fuzzy_threshold:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for d in fam:
            comps.setdefault(find(d), []).append(d)
        for members in comps.values():
            if len(members) > 1:
                for d in members:
                    t.fuzzy_component[d] = min(members)

    # duplicated n-word spans over the exact-dedup survivors
    span_docs = {}
    spans = {}
    for d in survivors:
        words = inp.texts[d].split(" ")
        hs = [md5_32(" ".join(words[i:i + span_n]))
              for i in range(len(words) - span_n + 1)]
        spans[d] = hs
        for h in dict.fromkeys(hs):
            span_docs[h] = span_docs.get(h, 0) + 1
    for d in survivors:
        n = len(inp.texts[d].split(" "))
        covered = set()
        for i, h in enumerate(spans[d]):
            if span_docs[h] >= 2:
                covered.update(range(i, i + span_n))
        t.span_kept += n - len(covered)
        t.span_dropped += len(covered)

    for b, src in inp.contaminated.items():
        j = jaccard(shingle_set(inp.heldout[b]), shingle_set(inp.texts[src]))
        if j >= decon_threshold:
            t.contamination_pairs[(src, b)] = j

    for fam in inp.emb_families:
        for i, a in enumerate(fam):
            for b in fam[i + 1:]:
                c = cosine(inp.vectors[a], inp.vectors[b])
                if c >= cos_threshold:
                    t.emb_pairs[(a, b)] = c
    return t


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(a @ b / np.sqrt((a @ a) * (b @ b)))
