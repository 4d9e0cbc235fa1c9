"""Seeded synthetic KGX graph and the reference answers derived from it.

The graph has the properties the build and serving paths branch on:

- an ontology forest: nodes ``SB:1 .. SB:{n_subclass-1}`` are each
  ``biolink:subclass_of`` their ``id // 10`` parent, so the closure has
  real depth and ``SB:0`` has more than 5,000 descendants once the forest
  is large enough;
- 2% alias ids: every 50th node lists ``ALIAS:<n>`` among its
  ``equivalent_curies``;
- ~10% non-canonical predicates (``biolink:treated_by``), which the build
  flips to ``biolink:treats``;
- skewed object degree: a quarter of the edges point at one of a few hub
  nodes, so a hub one-hop answers with more than 5,000 edges and leaves
  the serving fast path.

Hubs and the nodes used for pinned checks sit outside the forest, so no
subclass expansion applies to them and their answers are plain filters
over the generated edge list (:class:`KgxModel`).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

CATEGORIES = [
    "biolink:Gene",
    "biolink:Disease",
    "biolink:ChemicalEntity",
    "biolink:Protein",
    "biolink:PhenotypicFeature",
    "biolink:SmallMolecule",
    "biolink:Drug",
    "biolink:Pathway",
]
# All known to the engine's Biolink subset, so a related_to query matches
# every one of them.
PREDICATES = [
    "biolink:treats",
    "biolink:interacts_with",
    "biolink:affects",
    "biolink:related_to",
    "biolink:causes",
    "biolink:contributes_to",
    "biolink:physically_interacts_with",
    "biolink:associated_with",
    "biolink:regulates",
]
NON_CANONICAL = {"biolink:treated_by": "biolink:treats"}
SOURCES = [f"infores:src{i}" for i in range(5)]
HUB_SHARE = 0.25


@dataclass(frozen=True)
class KgxSize:
    nodes: int
    edges: int
    subclass: int
    hubs: int


@dataclass
class KgxModel:
    """Generated graph in memory: what the engine should answer."""

    size: KgxSize
    aliases: dict[str, str] = field(default_factory=dict)  # alias -> node id
    # canonical (subject, predicate, object) triples, subclass edges included
    triples: set[tuple[str, str, str]] = field(default_factory=set)
    adjacency: dict[str, set[str]] = field(default_factory=dict)

    @property
    def hub_ids(self) -> list[str]:
        return [f"SB:{self.size.subclass + i}" for i in range(self.size.hubs)]

    @property
    def first_plain_node(self) -> int:
        """Lowest numeric id outside the forest and the hubs."""
        return self.size.subclass + self.size.hubs

    def add(self, s: str, p: str, o: str) -> None:
        if p in NON_CANONICAL:
            s, p, o = o, NON_CANONICAL[p], s
        self.triples.add((s, p, o))
        self.adjacency.setdefault(s, set()).add(o)
        self.adjacency.setdefault(o, set()).add(s)

    def neighbors(self, node_id: str) -> list[str]:
        """``/neighbors`` with its defaults (related_to, NamedThing): every
        node joined to ``node_id`` by an edge in either direction."""
        return sorted(self.adjacency.get(node_id, ()))

    def edges_between(
        self, left: list[str], right: list[str]
    ) -> set[tuple[str, str, str]]:
        """Triples joining a ``left`` id and a ``right`` id in either
        direction: a doubly pinned one-hop with no predicate (related_to is
        symmetric, so every predicate matches both ways)."""
        lset, rset = set(left), set(right)
        return {
            t
            for t in self.triples
            if (t[0] in lset and t[2] in rset) or (t[0] in rset and t[2] in lset)
        }


def generate_kgx(out_dir: str, seed: int, size: KgxSize) -> KgxModel:
    """Write ``nodes.jsonl`` and ``edges.jsonl`` under ``out_dir``; return
    the model of the graph written."""
    rng = random.Random(seed)
    model = KgxModel(size=size)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "nodes.jsonl"), "w", encoding="utf-8") as f:
        for i in range(size.nodes):
            nid = f"SB:{i}"
            cat = CATEGORIES[rng.randrange(len(CATEGORIES))]
            equiv: list[str] = []
            if i % 50 == 0:
                equiv = [f"ALIAS:{i}", nid]
                model.aliases[f"ALIAS:{i}"] = nid
            f.write(json.dumps({
                "id": nid,
                "name": f"node {i}",
                "all_categories": [cat],
                "equivalent_curies": equiv,
            }) + "\n")
    hubs = model.hub_ids
    lo = model.first_plain_node
    with open(os.path.join(out_dir, "edges.jsonl"), "w", encoding="utf-8") as f:
        for i in range(size.edges):
            s = f"SB:{rng.randrange(lo, size.nodes)}"
            if rng.random() < HUB_SHARE:
                o = hubs[rng.randrange(len(hubs))]
            else:
                o = f"SB:{rng.randrange(size.nodes)}"
            if rng.random() < 0.1:
                p = "biolink:treated_by"
            else:
                p = PREDICATES[rng.randrange(len(PREDICATES))]
            asserted = rng.random() < 0.5
            pubs = [f"PMID:{rng.randrange(1_000_000)}"] if rng.random() < 0.05 else []
            model.add(s, p, o)
            f.write(json.dumps({
                "id": f"e{i}",
                "subject": s,
                "object": o,
                "predicate": p,
                "primary_knowledge_source": SOURCES[rng.randrange(len(SOURCES))],
                "knowledge_level": (
                    "knowledge_assertion" if asserted else "prediction"
                ),
                "agent_type": "manual_agent" if asserted else "automated_agent",
                "publications": pubs,
            }) + "\n")
        for i in range(1, size.subclass):
            s, o = f"SB:{i}", f"SB:{i // 10}"
            model.add(s, "biolink:subclass_of", o)
            f.write(json.dumps({
                "id": f"sub{i}",
                "subject": s,
                "object": o,
                "predicate": "biolink:subclass_of",
                "primary_knowledge_source": "infores:ontology",
                "knowledge_level": "knowledge_assertion",
                "agent_type": "manual_agent",
                "publications": [],
            }) + "\n")
    return model
