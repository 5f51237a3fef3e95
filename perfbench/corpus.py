"""Seeded Service-Bulletin corpus and the expected answers computed from it.

The generator writes documents in the shape of FIXTURES.md §A.1: a
``header/number`` docnbr, a title-driven hierarchy (``appendix_a`` titles
and sections), the ``<airplanes>`` effectivity micro-format
``"<types> Airplane(s), line number(s) <csv>"`` with line numbers drawn from
a shared pool so they recur across bulletins, manpower tasks, work
instructions, and revised re-issues of earlier bulletins.

Expected answers are derived from the generated XML with ElementTree and
plain Python (``GraphModel``), never from engine output. ``GraphModel``
restates the documented shred semantics of ``graph.shred``: node identity on
(label, name, content, path, docnbr, batch), one ``ServiceBulletin`` root per
(docnbr, batch), ``Airplane`` per (type, docnbr, batch), ``LineNumber`` per
(line number, batch), parent/child ``HAS_<TAG>``/``IS_PART_OF`` edges and the
effectivity fan ``effects``/``affected_by``/``includes``/``included_in``.
"""

from __future__ import annotations

import hashlib
import random
import re
import xml.etree.ElementTree as ET
from collections import defaultdict
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

AIRPLANE_MARKER = " Airplane(s), line number(s) "
AIRPLANE_TYPES = ["737-600", "737-700", "737-800", "737-900", "737-700C",
                  "737-900ER", "737-8", "737-9", "737-7", "737-10"]
ATA_SYSTEMS = ["21", "24", "25", "27", "28", "29", "32", "33", "34", "35",
               "36", "49", "52", "53", "54", "55", "56", "57"]
WORDS = ("inspect replace install remove check torque seal bracket fitting "
         "wire harness valve actuator panel door flap slat spar rib frame "
         "stringer fastener clamp duct sensor relay pump filter bearing hinge "
         "cable pulley lever seal gasket coating corrosion crack repair "
         "modify test operational functional detailed general visual").split()
TASK_NAMES = ["Inspection", "Modification", "Replacement", "Repair",
              "Functional test", "Access", "Close up", "Rework"]
TASK_HOURS = [4, 6, 8, 10, 12, 16, 20, 24, 30, 40, 50, 60]


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    return " ".join(words).capitalize() + "."


def zipf_weights(n: int, s: float) -> list[float]:
    """Unnormalised Zipf weights 1/rank^s for ranks 1..n."""
    return [1.0 / (r ** s) for r in range(1, n + 1)]


@dataclass
class Bulletin:
    docnbr: str
    revision: int
    xml: str


# Corpus shape: the FIXTURES.md §A.1 ranges
LINE_POOL = 1500           # distinct line numbers shared by all bulletins
LINES_PER_DOC = (130, 330)
TYPES_PER_DOC = (1, 2)
TASKS_PER_DOC = (1, 2)
DESCRIPTION_STEPS = (2, 3)
WORK_STEPS = (2, 3)
APPENDIX_SECTIONS = (1, 2)
LINE_ZIPF_S = 0.9          # popularity skew of pooled line numbers
RANGE_SHARE = 0.1          # share of line numbers written as "a-b" ranges


class CorpusGenerator:
    """Deterministic bulletin factory: the same seed gives the same bytes."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        base = self.rng.randrange(6000, 7000)
        pool = []
        for i in range(LINE_POOL):
            n = base + 2 * i
            if self.rng.random() < RANGE_SHARE:
                pool.append(f"{n}-{n + 1}")
            else:
                pool.append(str(n))
        self.rng.shuffle(pool)   # popularity rank is independent of value
        self.line_pool = pool
        self._line_w = zipf_weights(len(pool), LINE_ZIPF_S)
        self.next_number = 1000 + self.rng.randrange(0, 500)
        self.issued: dict[str, Bulletin] = {}

    def _lines(self, rng: random.Random) -> list[str]:
        k = rng.randint(*LINES_PER_DOC)
        picked: list[str] = []
        seen: set[str] = set()
        while len(picked) < k:
            for ln in rng.choices(self.line_pool, weights=self._line_w,
                                  k=k - len(picked)):
                if ln not in seen:
                    seen.add(ln)
                    picked.append(ln)
        return picked

    def _render(self, rng: random.Random, docnbr: str, revision: int,
                lines: list[str], types: list[str]) -> str:
        ata = rng.choice(ATA_SYSTEMS)
        subject = f"{ata} {_sentence(rng, 3, 6)[:-1].upper()}"
        if revision:
            subject += f" REVISION {revision}"
        date = (f"{2020 + rng.randrange(6)}-{1 + rng.randrange(12):02d}-"
                f"{1 + rng.randrange(28):02d}")
        e = escape
        out = ["<boeing_service_bulletin>",
               f"<header><number>{docnbr}</number>"
               f"<original_issue_date>{date}</original_issue_date>"
               f"<ata_system>{ata}</ata_system>"
               f"<subject>{e(subject)}</subject></header>",
               f"<summary><background>{_sentence(rng, 10, 30)}</background>"
               f"<description>{_sentence(rng, 10, 30)}</description>"
               "</summary>",
               "<planning_information><effectivity>"
               f"<airplanes>{' '.join(types)}{AIRPLANE_MARKER}"
               f"{', '.join(lines)}</airplanes>"
               "<spares_affected>None</spares_affected></effectivity>"
               "<concurrent_requirements>None</concurrent_requirements>"
               f"<reason>{_sentence(rng, 8, 20)}</reason><description>"]
        for _ in range(rng.randint(*DESCRIPTION_STEPS)):
            out.append(f"<step>{_sentence(rng, 5, 12)}</step>")
        out.append(f"</description><compliance>{_sentence(rng, 6, 14)}"
                   f"</compliance><approval>{_sentence(rng, 4, 10)}"
                   "</approval><manpower>")
        tot_h = tot_e = 0
        for _ in range(rng.randint(*TASKS_PER_DOC)):
            h = rng.choice(TASK_HOURS)
            el = max(1, h // rng.choice([1, 2, 4]))
            tot_h += h
            tot_e += el
            out.append(f"<task><name>{rng.choice(TASK_NAMES)}</name>"
                       f"<persons>{rng.randint(1, 4)}</persons>"
                       f"<task_hours>{h}</task_hours>"
                       f"<elapsed_hours>{el}</elapsed_hours></task>")
        out.append(f"<total_per_airplane><task_hours>{tot_h}</task_hours>"
                   f"<elapsed_hours>{tot_e}</elapsed_hours>"
                   "</total_per_airplane></manpower></planning_information>")
        out.append("<material_information>"
                   f"<parts_required>{_sentence(rng, 3, 8)}</parts_required>"
                   f"<tooling_required>{_sentence(rng, 2, 6)}"
                   "</tooling_required></material_information>"
                   "<accomplishment_instructions><work_instructions>")
        for i in range(rng.randint(*WORK_STEPS)):
            out.append(f"<step><number>{i + 1}</number>"
                       f"<text>{_sentence(rng, 6, 16)}</text></step>")
        out.append("</work_instructions></accomplishment_instructions>"
                   f"<appendix_a><title>{_sentence(rng, 2, 5)}</title>")
        for _ in range(rng.randint(*APPENDIX_SECTIONS)):
            out.append(f"<section><title>{_sentence(rng, 2, 5)}</title>"
                       f"<content>{_sentence(rng, 10, 25)}</content>"
                       "</section>")
        out.append("</appendix_a></boeing_service_bulletin>")
        return "".join(out)

    def new_bulletin(self) -> Bulletin:
        docnbr = f"737-{self.rng.choice(ATA_SYSTEMS)}-{self.next_number}"
        self.next_number += 1
        rng = random.Random(self.rng.getrandbits(64))
        types = rng.sample(AIRPLANE_TYPES, rng.randint(*TYPES_PER_DOC))
        b = Bulletin(docnbr, 0, self._render(rng, docnbr, 0, self._lines(rng),
                                             types))
        self.issued[docnbr] = b
        return b

    def revise(self, docnbr: str) -> Bulletin:
        """Revised re-issue: same docnbr, new subject/revision, a changed
        effectivity list and re-drawn prose."""
        prev = self.issued[docnbr]
        rng = random.Random(self.rng.getrandbits(64))
        types = rng.sample(AIRPLANE_TYPES, rng.randint(*TYPES_PER_DOC))
        b = Bulletin(docnbr, prev.revision + 1,
                     self._render(rng, docnbr, prev.revision + 1,
                                  self._lines(rng), types))
        self.issued[docnbr] = b
        return b

    def batch(self, n: int, revised_share: float,
              exclude: set[str] | None = None) -> list[Bulletin]:
        """``n`` bulletins: revisions of earlier ones (never twice the same
        docnbr in one batch) mixed with new ones."""
        out: list[Bulletin] = []
        used = set(exclude or ())
        earlier = sorted(d for d in self.issued if d not in used)
        n_rev = min(len(earlier), round(n * revised_share))
        for d in self.rng.sample(earlier, n_rev):
            used.add(d)
            out.append(self.revise(d))
        while len(out) < n:
            out.append(self.new_bulletin())
        return out


# -- expected graph (ElementTree restatement of the shred semantics) --------

def _doc_rows(xml_text: str):
    root = ET.fromstring(xml_text)
    docnbr = root.findtext("./header/number").strip()
    rows = []

    def walk(el, path, parent_path):
        text = (el.text or "").strip() or None
        rows.append((path, parent_path, el.tag, text))
        for i, child in enumerate(el):
            walk(child, f"{path}/{child.tag}[{i}]", path)

    walk(root, f"/{root.tag}[0]", None)
    return docnbr, rows


def _sanitize_rel(tag: str) -> str:
    return re.sub("[^a-zA-Z0-9]", "_", tag).upper()


@dataclass
class GraphModel:
    """The graph the store should hold, as Python sets. A node key is the
    tuple the engine hashes into its id; an edge key is (src, dst, rel)."""
    nodes: dict[tuple, tuple] = field(default_factory=dict)  # key -> (label, name, content, docnbr, batch)
    edges: set[tuple] = field(default_factory=set)
    _adj: dict | None = field(default=None, repr=False)   # out-adjacency cache

    def add_document(self, xml_text: str, batch: str) -> None:
        self._adj = None
        docnbr, rows = _doc_rows(xml_text)
        by_path = {}
        for path, parent_path, tag, text in rows:
            if parent_path is None:
                key = ("ServiceBulletin", docnbr, None, None, docnbr, batch)
                self.nodes[key] = ("ServiceBulletin", docnbr, None, docnbr, batch)
            else:
                key = (tag, tag, text, path, docnbr, batch)
                self.nodes[key] = (tag, tag, text, docnbr, batch)
            by_path[path] = key
        for path, parent_path, tag, text in rows:
            if parent_path is None:
                continue
            child, parent = by_path[path], by_path[parent_path]
            self.edges.add((parent, child, "HAS_" + _sanitize_rel(tag)))
            self.edges.add((child, parent, "IS_PART_OF"))
        for path, parent_path, tag, text in rows:
            if tag != "airplanes" or text is None:
                continue
            head, _, tail = text.partition(AIRPLANE_MARKER)
            types = [t for t in head.strip().split() if t not in ("", "and")]
            lines = [s.strip() for s in tail.split(",")] if _ else []
            eff = by_path[parent_path]
            for t in types:
                ap = ("Airplane", t, None, None, docnbr, batch)
                self.nodes[ap] = ("Airplane", t, None, docnbr, batch)
                self.edges.add((eff, ap, "effects"))
                self.edges.add((ap, eff, "affected_by"))
                for ln in lines:
                    if not ln:
                        continue
                    lk = ("LineNumber", ln, None, None, None, batch)
                    self.nodes[lk] = ("LineNumber", ln, None, None, batch)
                    self.edges.add((ap, lk, "includes"))
                    self.edges.add((lk, ap, "included_in"))

    def delete_batch(self, batch: str) -> None:
        self._adj = None
        self.nodes = {k: v for k, v in self.nodes.items() if v[4] != batch}
        self.edges = {e for e in self.edges if e[0][5] != batch}

    def frames(self):
        """The graph as two pandas frames: nodes (id, label, name, content,
        docnbr, batch) and edges (src, dst, rel_type, batch). Ids are a
        stable hash of the node key: consistent within the graph, though
        not the engine's own id function."""
        import pandas as pd

        ids = {k: int.from_bytes(hashlib.blake2b(repr(k).encode(), digest_size=8)
                                 .digest(), "big", signed=True)
               for k in self.nodes}
        nodes = pd.DataFrame(
            [(ids[k], *v) for k, v in self.nodes.items()],
            columns=["id", "label", "name", "content", "docnbr", "batch"])
        edges = pd.DataFrame(
            [(ids[s], ids[d], rel, s[5]) for s, d, rel in self.edges],
            columns=["src", "dst", "rel_type", "batch"])
        return nodes, edges

    def label_counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for label, *_ in self.nodes.values():
            out[label] += 1
        return dict(out)

    def khop_grouped(self, docnbr: str, batch: str, depth: int = 3
                     ) -> tuple[int, str]:
        """(n_connected, connected_names) of ``GraphStore.khop_grouped``
        seeded at one bulletin root of one batch: out-direction BFS to
        ``depth`` hops, names sorted (ties by id leave the name list
        unchanged)."""
        adj = self._out_adjacency()
        seed = ("ServiceBulletin", docnbr, None, None, docnbr, batch)
        seen = {seed}
        frontier = [seed]
        reached = []
        for _ in range(depth):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            reached.extend(nxt)
            frontier = nxt
        names = sorted(self.nodes[k][1] for k in reached)
        return len(reached), ",".join(names)

    def _out_adjacency(self) -> dict[tuple, list[tuple]]:
        if self._adj is None:
            self._adj = defaultdict(list)
            for s, d, _ in self.edges:
                self._adj[s].append(d)
        return self._adj


# -- per-document facts for the chat patterns --------------------------------

@dataclass
class DocFacts:
    subject: str
    lines: list[str]
    types: list[str]
    task_hours: list[int]


def doc_facts(xml_text: str) -> DocFacts:
    root = ET.fromstring(xml_text)
    text = root.findtext("./planning_information/effectivity/airplanes")
    head, _, tail = text.partition(AIRPLANE_MARKER)
    return DocFacts(
        subject=root.findtext("./header/subject").strip(),
        lines=[s.strip() for s in tail.split(",") if s.strip()],
        types=[t for t in head.split() if t != "and"],
        task_hours=[int(t.findtext("task_hours"))
                    for t in root.findall("./planning_information/manpower/task")],
    )
