"""Seeded JSONL datasource generator and its ground truth.

Every workload's inputs come from ``generate(spec, seed, out_dir)``: one
JSONL file per datasource, written byte-identically for a given
(spec, seed). The generator also returns the facts the engine's outputs
are checked against; ``Truth`` derives the expected graph from them with
a plain union-find, the same algorithm as the reference's
``grebi_identifiers2groups`` (alias sets merged incrementally, canonical
id = best readability score, then smallest string).

Entity shape: ``id`` (``s<k>:e<concept>``), ``grebi:equivalentTo`` (the
concept's shared alias ``ex:C<concept>``, sometimes written as an IRI
that the benchmark's ``PrefixMap`` canonicalises, plus any private alias
chain), ``grebi:type``, a unique ``grebi:name``, literal props
``ex:p<i>`` and reference props ``ex:rel<j>`` whose values are other
concepts' aliases (about one in ten reified with an evidence prop).
Literal values contain spaces, so they can never collide with an alias.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

IRI_BASE = "http://example.org/ex/"
PREFIX_MAP = {IRI_BASE: "ex:"}
EXCLUDE_EDGES = ("id",)
TYPES = ("ex:Gene", "ex:Protein", "ex:Disease", "ex:Phenotype", "ex:Chemical")
WORDS = (
    "amber", "basil", "cedar", "delta", "ember", "fable", "garnet", "harbor",
    "indigo", "juniper", "kestrel", "lumen", "marble", "nectar", "onyx",
    "pepper", "quartz", "raven", "saffron", "tundra",
)
MAX_MEMBERS = 4            # most entities of a plain concept, one per source
REF_PROPS = (2, 3)         # reference props per plain entity
REIFY_FRAC = 0.10          # reference values carrying an evidence prop
IRI_FRAC = 0.3             # aliases written as IRIs for the PrefixMap


@dataclass(frozen=True)
class Spec:
    """Corpus shape. ``hubs`` concepts get ``hub_entities`` entities each
    (spread over every source) carrying ``hub_aliases`` private aliases;
    ``chains`` concepts are alias chains of ``chain_len`` entities (the
    clique's diameter grows with ``chain_len``)."""

    sources: int
    concepts: int
    literal_props: int = 6
    hubs: int = 0
    hub_entities: int = 0
    hub_aliases: int = 0
    chains: int = 0
    chain_len: int = 0


def _id_score(s: str) -> int:
    """The engine's and the reference's canonical-id readability score
    (lower is better): grebi:* then biolink:* then CURIE-like, then more
    alphabetic characters."""
    if s.startswith("grebi:"):
        return -2147483648
    if s.startswith("biolink:"):
        return -2147483648 + 1000
    alpha = sum(1 for ch in s if ("a" <= ch <= "z") or ("A" <= ch <= "Z"))
    curie = ":" in s and not s.startswith("http")
    return (-1000 if curie else 0) - alpha


def _canon_alias(a: str) -> str:
    return "ex:" + a[len(IRI_BASE):] if a.startswith(IRI_BASE) else a


@dataclass
class Entity:
    source: int
    id: str
    aliases: list[str]                  # normalised, excluding ``id``
    name: str
    refs: list[tuple[str, str, str | None]]  # (prop, normalised target alias, value_props)
    doc: dict = field(repr=False, default_factory=dict)


def _name(rng: random.Random, c: int) -> str:
    return f"{rng.choice(WORDS)} {rng.choice(WORDS)} n{c:06d}"


def _entities(spec: Spec, rng: random.Random) -> list[Entity]:
    n_pop = spec.concepts + spec.hubs + spec.chains
    names = [_name(rng, c) for c in range(n_pop)]
    types = [rng.choice(TYPES) for _ in range(n_pop)]
    plain = list(range(spec.concepts))
    out: list[Entity] = []

    def alias_of(c: int) -> str:
        return f"ex:C{c:06d}"

    def written(a: str) -> str:
        # some aliases arrive as IRIs the prefix map must canonicalise
        if a.startswith("ex:") and rng.random() < IRI_FRAC:
            return IRI_BASE + a[3:]
        return a

    def make(src: int, c: int, eid: str, extra: list[str], n_lit: int) -> None:
        shared = alias_of(c)
        eq = [written(shared)] + extra
        doc: dict = {
            "id": eid,
            "grebi:equivalentTo": eq,
            "grebi:type": types[c],
            "grebi:name": names[c],
        }
        for i in range(n_lit):
            doc[f"ex:p{i}"] = f"value {rng.randrange(10**6)} {i}"
        refs = []
        for j in range(rng.randint(*REF_PROPS)):
            t = rng.choice(plain)
            if t == c:
                continue
            target = alias_of(t)
            prop = f"ex:rel{j}"
            if rng.random() < REIFY_FRAC:
                ev = f"ECO:{rng.randrange(1000):07d}"
                doc[prop] = {"grebi:value": written(target),
                             "grebi:properties": {"ex:evidence": [ev]}}
                vp = json.dumps({"ex:evidence": [ev]}, sort_keys=True,
                                separators=(",", ":"))
            else:
                doc[prop] = written(target)
                vp = None
            refs.append((prop, target, vp))
        out.append(Entity(src, eid, [shared] + [_canon_alias(a) for a in extra],
                          names[c], refs, doc))

    for c in plain:
        k = rng.randint(1, min(MAX_MEMBERS, spec.sources))
        for src in sorted(rng.sample(range(spec.sources), k)):
            make(src, c, f"s{src}:e{c:06d}", [], spec.literal_props)
    for h in range(spec.hubs):
        c = spec.concepts + h
        for i in range(spec.hub_entities):
            extra = [f"hub{h}:a{i:05d}x{j}" for j in range(spec.hub_aliases)]
            make(i % spec.sources, c, f"s{i % spec.sources}:h{h}e{i:05d}", extra, 2)
    for ch in range(spec.chains):
        c = spec.concepts + spec.hubs + ch
        for i in range(spec.chain_len):
            # entity i links chain aliases i and i+1: only entity 0 carries
            # the shared alias, so the clique is a path of chain_len hops
            eid = f"s{i % spec.sources}:k{ch}e{i:04d}"
            link = [f"chain{ch}:a{i:04d}", f"chain{ch}:a{i + 1:04d}"]
            make(i % spec.sources, c, eid, link, 2)
            if i:
                e = out[-1]
                e.aliases = e.aliases[1:]
                e.doc["grebi:equivalentTo"] = e.doc["grebi:equivalentTo"][1:]
    return out


def generate(spec: Spec, seed: int, out_dir: str) -> dict:
    """Write ``src<k>.jsonl`` per datasource under ``out_dir``; return
    ``{"paths": {datasource: path}, "rows": n, "bytes": n, "truth": Truth}``.
    ``rows`` counts the long-form rows the engine's JSONL flattener
    yields (one per property value)."""
    rng = random.Random(seed)
    ents = _entities(spec, rng)
    os.makedirs(out_dir, exist_ok=True)
    paths, rows, nbytes = {}, 0, 0
    for src in range(spec.sources):
        mine = [e for e in ents if e.source == src]
        rng.shuffle(mine)
        p = os.path.join(out_dir, f"src{src}.jsonl")
        with open(p, "w") as fh:
            for e in mine:
                fh.write(json.dumps(e.doc, separators=(",", ":")) + "\n")
                rows += sum(len(v) if isinstance(v, list) else 1 for v in e.doc.values())
        nbytes += os.path.getsize(p)
        paths[f"src{src}"] = p
    return {"paths": paths, "rows": rows, "bytes": nbytes, "truth": Truth(ents)}


class Truth:
    """Expected graph of a generated corpus, from a union-find over every
    entity's alias set."""

    def __init__(self, entities: list[Entity]):
        self.entities = entities
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for e in entities:
            root = find(e.id)
            for a in e.aliases:
                ra = find(a)
                if ra != root:
                    parent[ra] = root
        members: dict[str, list[str]] = {}
        for x in list(parent):
            members.setdefault(find(x), []).append(x)
        self.canon: dict[str, str] = {}
        self.cliques: list[list[str]] = []
        for mem in members.values():
            best = min(mem, key=lambda s: (_id_score(s), s))
            for m in mem:
                self.canon[m] = best
            self.cliques.append(sorted(mem))
        self.nodes = sorted({self.canon[e.id] for e in entities})
        edges = set()
        for e in entities:
            src = self.canon[e.id]
            for prop, target, vp in e.refs:
                edges.add((src, prop, self.canon[target], vp))
        self.edges = edges
        self.out_degree: dict[str, int] = {}
        self.in_degree: dict[str, int] = {}
        for s, _p, t, _vp in edges:
            self.out_degree[s] = self.out_degree.get(s, 0) + 1
            self.in_degree[t] = self.in_degree.get(t, 0) + 1
        self.name_of: dict[str, str] = {}
        self.types_of: dict[str, set[str]] = {}
        for e in entities:
            node = self.canon[e.id]
            if e.name:
                self.name_of.setdefault(node, e.name)
            self.types_of.setdefault(node, set()).add(e.doc["grebi:type"])
        self.max_clique = max(len(c) for c in self.cliques)

    def digest(self) -> str:
        """Order-free digest of the multi-member clique partition."""
        parts = sorted(",".join(c) for c in self.cliques if len(c) > 1)
        return hashlib.sha1("\n".join(parts).encode()).hexdigest()


def inputs_digest(paths: dict[str, str]) -> str:
    """sha1 over every generated file, in datasource order."""
    h = hashlib.sha1()
    for ds in sorted(paths):
        h.update(ds.encode())
        with open(paths[ds], "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def partition_digest(pairs) -> str:
    """The same digest over the engine's ``(id, group_id)`` rows."""
    groups: dict[str, list[str]] = {}
    for i, g in pairs:
        groups.setdefault(g, []).append(i)
    parts = sorted(",".join(sorted(m)) for m in groups.values() if len(m) > 1)
    return hashlib.sha1("\n".join(parts).encode()).hexdigest()
