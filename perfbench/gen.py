"""Seeded input generators, one per workload, each with the output it
must produce.

Everything here is a pure function of ``(workload, seed)`` and is
written with pyarrow, so the program under test sees only parquet.
This module deliberately imports nothing from ``serd_spark``: a change
to the program cannot change the workload or the expected output.

Expected outputs are canonical NQuads lines spelled the way the
engine's canonical writer spells them (IRIs in ``<>``, literal bodies
with ``\\ " \\n \\r \\t`` escaped, explicit ``^^<datatype>``).  Blank
nodes the parser generates itself (anonymous ``[ ]`` nodes and
collection cells) have parser-chosen numbers, so both sides compare
them as ``_:<conv>-b?``: the conversation is still checked, the
numbering is not.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
# The engine's default per-conversation document base.
BASE_TEMPLATE = "http://transcripts.example/{}"
MENTIONS = "urn:kg:mentions"

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
ENTITY_SCHEMA = pa.schema([
    ("entity_id", pa.int64()), ("iri", pa.string()),
    ("alias", pa.string()), ("ctx", pa.list_(pa.string())),
])

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
_ROLES = ("user", "assistant", "tool")
_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra "
          "tango").split()
GEN_BLANK_RE = re.compile(r"(_:c\d+)-b\d+")
N_FILES = 8


@dataclass
class Corpus:
    """Generated input plus the output the program must produce."""

    turns: list                     # F1 rows (conv_id, turn_idx, ...)
    expected: set                   # canonical lines, gen. blanks masked
    expected_rows: int              # output rows after dedup
    expected_errors: int = 0        # quarantined syntax errors
    entities: list = field(default_factory=list)
    candidates: int = 0             # entity_link: dictionary hits
    layout: str = "colocated"       # colocated | scattered
    gen_s: float = 0.0

    @property
    def n_turns(self) -> int:
        return len(self.turns)

    def digest(self) -> str:
        h = hashlib.sha256()
        for r in self.turns:
            h.update(f"{r[0]}\x00{r[1]}\x00{r[3]}\x01".encode())
        for e in self.entities:
            h.update(repr(e).encode())
        return h.hexdigest()[:16]

    def write(self, root: str) -> dict:
        """Write the turns (and dictionary) as parquet under ``root``;
        returns the paths."""
        os.makedirs(root, exist_ok=True)
        buckets: list[list] = [[] for _ in range(N_FILES)]
        if self.layout == "colocated":
            # Bucketed by conversation, buckets balanced by turn count
            # (longest conversation first), so every file holds whole
            # conversations and mega-conversations land in different
            # files.
            by_conv: dict[str, list] = {}
            for r in self.turns:
                by_conv.setdefault(r[0], []).append(r)
            loads = [0] * N_FILES
            for rows in sorted(by_conv.values(), key=len, reverse=True):
                i = loads.index(min(loads))
                buckets[i].extend(rows)
                loads[i] += len(rows)
        else:
            # Scattered: the turns come in seeded random order, so a
            # conversation spans many files.
            for i, r in enumerate(self.turns):
                buckets[i % N_FILES].append(r)
        turns_dir = os.path.join(root, "turns")
        os.makedirs(turns_dir)
        for i, rows in enumerate(buckets):
            cols = list(zip(*rows)) if rows else [[]] * len(SCHEMA)
            pq.write_table(
                pa.Table.from_arrays([pa.array(c, f.type) for c, f
                                      in zip(cols, SCHEMA)],
                                     schema=SCHEMA),
                os.path.join(turns_dir, f"part-{i:03d}.parquet"))
        paths = {"turns": turns_dir}
        if self.entities:
            paths["entities"] = os.path.join(root, "entities.parquet")
            cols = list(zip(*self.entities))
            pq.write_table(
                pa.Table.from_arrays([pa.array(c, f.type) for c, f
                                      in zip(cols, ENTITY_SCHEMA)],
                                     schema=ENTITY_SCHEMA),
                paths["entities"])
        return paths


def mask_generated_blanks(line: str) -> str:
    return GEN_BLANK_RE.sub(r"\1-b?", line)


# ---- canonical term spelling ----

def iri(v: str) -> str:
    return f"<{v}>"


def lit(v: str, dt: str | None = None, lang: str | None = None) -> str:
    body = (v.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r")
            .replace("\t", "\\t"))
    if lang:
        return f'"{body}"@{lang}'
    if dt:
        return f'"{body}"^^<{dt}>'
    return f'"{body}"'


def line(s: str, p: str, o: str) -> str:
    return f"{s} {p} {o} ."


def _row(conv_id: str, turn_idx: int, text: str, conv_no: int) -> tuple:
    role = _ROLES[turn_idx % 3]
    tool = "search" if role == "tool" else None
    ts = _EPOCH + timedelta(days=conv_no % 365, minutes=turn_idx)
    return (conv_id, turn_idx, role, text, tool, ts)


def _turn_counts(rng: random.Random, n_convs: int) -> list[int]:
    """4..12 turns per conversation in seeded order; the total depends
    only on ``n_convs``, so every seed gives the same input size."""
    counts = [4 + i % 9 for i in range(n_convs)]
    rng.shuffle(counts)
    return counts


def _finish(turns, lines, gen_blank_lines, t0, **kw) -> Corpus:
    plain = set(lines)
    return Corpus(
        turns=turns,
        expected=plain | set(gen_blank_lines),
        expected_rows=len(plain) + len(gen_blank_lines),
        gen_s=time.perf_counter() - t0, **kw)


# ---- Turtle: the F1 grammar mix ----

class _TurtleDoc:
    """One conversation as one Turtle document, tracking the lexical
    environment (prefixes, base) so each statement's triples are known
    as it is written."""

    def __init__(self, rng: random.Random, conv_id: str, errors_pct: int):
        self.rng = rng
        self.conv = conv_id
        self.base = BASE_TEMPLATE.format(conv_id)
        self.prefixes: dict[str, str] = {}
        self.errors_pct = errors_pct
        self.n_errors = 0
        self.lines: list[str] = []       # triples with no generated blank
        self.gb_lines: list[str] = []    # triples with a generated blank

    def w(self) -> str:
        return self.rng.choice(_WORDS)

    def resolve(self, ref: str) -> str:
        if ref.startswith("#"):
            return self.base.split("#")[0] + ref
        return self.base[: self.base.rfind("/") + 1] + ref

    def emit(self, s: str, p: str, o: str) -> None:
        ln = line(s, p, o)
        (self.gb_lines if "-b?" in ln else self.lines).append(ln)

    def prologue(self) -> list[str]:
        out = []
        for name, ns in (("ex", "http://example.org/ex#"),
                         ("kg", "http://example.org/kg#"),
                         ("", "http://example.org/def#"),
                         ("d", "http://example.org/d#")):
            self.prefixes[name] = ns
            out.append(f"@prefix {name}: <{ns}> .")
        return out

    def directive(self) -> str:
        r = self.rng
        k = r.randrange(10)
        if k < 2:
            b = f"http://base{r.randrange(4)}.example/{self.w()}/"
            self.base = b
            return f"@base <{b}> ."
        if k < 3:
            rel = f"{self.w()}/"
            self.base = self.resolve(rel)
            return f"BASE <{rel}>"
        name = r.choice(["ex", "kg", "d", ""])
        if k < 5:  # relative namespace, resolved against the base
            rel = f"{self.w()}{r.randrange(9)}#"
            self.prefixes[name] = self.resolve(rel)
            return f"@prefix {name}: <{rel}> ."
        ns = f"http://ns{r.randrange(6)}.example/{self.w()}#"
        self.prefixes[name] = ns
        if k < 7:
            return f"PREFIX {name}: <{ns}>"
        return f"@prefix {name}: <{ns}> ."

    def pname(self, local: str) -> tuple[str, str]:
        name = self.rng.choice(["ex", "kg", "", "d"])
        return f"{name}:{local}", iri(self.prefixes[name] + local)

    def subject(self) -> tuple[str, str]:
        r = self.rng
        k = r.randrange(4)
        if k == 0:
            v = f"http://example.org/{self.w()}/{r.randrange(10000)}"
            return f"<{v}>", iri(v)
        if k == 1:
            rel = (f"{self.w()}/{r.randrange(1000)}" if r.randrange(3)
                   else f"#{self.w()}{r.randrange(100)}")
            return f"<{rel}>", iri(self.resolve(rel))
        if k == 2:
            lbl = f"n{r.randrange(100)}"
            return f"_:{lbl}", f"_:{self.conv}-{lbl}"
        return self.pname(f"{self.w()}{r.randrange(1000)}")

    def predicate(self) -> tuple[str, str]:
        r = self.rng
        k = r.randrange(4)
        if k == 0:
            return "a", iri(RDF + "type")
        if k == 1:
            v = f"http://example.org/p/{self.w()}"
            return f"<{v}>", iri(v)
        if k == 2:
            return self.pname(self.w())
        n = r.randrange(10, 100)
        txt, _ = self.pname(f"{self.w()}\\%{n}")
        name = txt.split(":", 1)[0]
        local = txt.split(":", 1)[1].replace("\\%", "%")
        return txt, iri(self.prefixes[name] + local)

    def obj(self, s: str, p: str) -> str:
        """Write one object of (s, p); emits its triples."""
        r, w = self.rng, self.w
        k = r.randrange(12)
        if k < 3:
            v = f"{w()} {w()}"
            j = r.randrange(10)
            if j < 3:
                lang = r.choice(["en", "en-GB", "de", "ja"])
                self.emit(s, p, lit(v, lang=lang))
                return f'"{v}"@{lang}'
            if j < 5:
                dt = XSD + r.choice(["string", "token"])
                self.emit(s, p, lit(v, dt=dt))
                return f'"{v}"^^<{dt}>'
            if j < 6:
                txt, dt = self.pname("dt")
                self.emit(s, p, lit(v, dt=dt[1:-1]))
                return f'"{v}"^^{txt}'
            self.emit(s, p, lit(v))
            return f'"{v}"'
        if k == 3:
            v = w()
            self.emit(s, p, lit(f'esc\t{v}\n"q" \u00e9'))
            return f'"esc\\t{v}\\n\\"q\\" \\u00e9"'
        if k == 4:
            j = r.randrange(5)
            if j == 0:
                v, dt = str(r.randint(-999, 9999)), "integer"
            elif j == 1:
                v, dt = f"{r.randrange(100)}.{r.randrange(100)}", "decimal"
            elif j == 2:
                v = f"{r.randint(1, 9)}.{r.randrange(10)}e{r.randint(-3, 3)}"
                dt = "double"
            else:
                v, dt = r.choice(["true", "false"]), "boolean"
            self.emit(s, p, lit(v, dt=XSD + dt))
            return v
        if k == 5:
            items = []
            parts = []
            for _ in range(r.randrange(4)):
                j = r.randrange(3)
                if j == 0:
                    v = str(r.randrange(10))
                    items.append(lit(v, dt=XSD + "integer"))
                elif j == 1:
                    v = w()
                    items.append(lit(v))
                    v = f'"{v}"'
                else:
                    u = f"http://example.org/{w()}"
                    items.append(iri(u))
                    v = f"<{u}>"
                parts.append(v)
            if not items:
                self.emit(s, p, iri(RDF + "nil"))
                return "()"
            cell = f"_:{self.conv}-b?"
            self.emit(s, p, cell)
            for i, item in enumerate(items):
                self.emit(cell, iri(RDF + "first"), item)
                self.emit(cell, iri(RDF + "rest"),
                          cell if i + 1 < len(items) else iri(RDF + "nil"))
            return "( " + " ".join(parts) + " )"
        if k == 6:
            node = f"_:{self.conv}-b?"
            self.emit(s, p, node)
            if r.randrange(4) == 0:
                return "[]"
            txt, pi = self.pname(w())
            v = w()
            self.emit(node, pi, lit(v))
            return f'[ {txt} "{v}" ]'
        if k == 7:
            lbl = f"n{r.randrange(100)}"
            self.emit(s, p, f"_:{self.conv}-{lbl}")
            return f"_:{lbl}"
        if k == 8:
            a, b, c = w(), w(), w()
            self.emit(s, p, lit(f'{a}\n{b} "inner" {c}'))
            return f"'''{a}\n{b} \"inner\" {c}'''"
        if k == 9:
            txt, o = self.pname(f"{w()}{r.randrange(100)}")
            self.emit(s, p, o)
            return txt
        u = f"http://example.org/{w()}#{r.randrange(1000)}"
        self.emit(s, p, iri(u))
        return f"<{u}>"

    def statement(self) -> str:
        r = self.rng
        if r.randrange(100) < 6:
            return self.directive()
        if r.randrange(100) < self.errors_pct:
            self.n_errors += 1
            # Two error shapes whose lax recovery is exact: the
            # statement yields no triple and parsing resumes on the
            # next line.
            if r.randrange(2):
                return f'ex:e{r.randrange(100)} ex:p "unterminated'
            return f"undef{r.randrange(9)}:s ex:p ex:o ."
        st, s = self.subject()
        pt, p = self.predicate()
        if pt == "a":
            objs = [self.obj_iri(s, p)]
        else:
            objs = [self.obj(s, p)]
        text = f"{st} {pt} {objs[0]}"
        if r.randrange(5) == 0:
            text += " , " + self.obj_iri(s, p)
        if r.randrange(4) == 0:
            pt2, p2 = self.pname(f"q{self.w()}")
            text += f" ; {pt2} {self.obj(s, p2)}"
        return text + " ."

    def obj_iri(self, s: str, p: str) -> str:
        txt, o = self.pname(f"C{self.w()}{self.rng.randrange(50)}")
        self.emit(s, p, o)
        return txt


def turtle_corpus(seed: int, n_convs: int, mega_every: int,
                  mega_factor: int = 100, errors_pct: int = 0,
                  layout: str = "colocated") -> Corpus:
    """Turtle transcripts: one conversation is one document whose
    statements are cut at turn boundaries; every ``mega_every``-th
    conversation has ``mega_factor`` times the turns."""
    t0 = time.perf_counter()
    rng = random.Random(f"turtle:{seed}")
    turns, lines, gb, n_err = [], [], [], 0
    mega_at = rng.randrange(mega_every)
    for c, n in enumerate(_turn_counts(rng, n_convs)):
        conv = f"c{c:06d}"
        doc = _TurtleDoc(rng, conv, errors_pct)
        if c % mega_every == mega_at:
            n = 8 * mega_factor
        for t in range(n):
            parts = doc.prologue() if t == 0 else []
            parts += [doc.statement() for _ in range(rng.randint(1, 3))]
            turns.append(_row(conv, t, "\n".join(parts), c))
        lines += doc.lines
        gb += doc.gb_lines
        n_err += doc.n_errors
    if layout == "scattered":
        rng.shuffle(turns)
    return _finish(turns, lines, gb, t0, expected_errors=n_err,
                   layout=layout)


# ---- NTriples: escape-light lines, facts recurring across convs ----

def nt_corpus(seed: int, n_convs: int, shared_facts: int = 2000) -> Corpus:
    t0 = time.perf_counter()
    rng = random.Random(f"nt:{seed}")

    def fact(tag: str) -> tuple[str, str]:
        """(NT line text, canonical line)."""
        s = f"http://example.org/{tag}/{rng.choice(_WORDS)}{rng.randrange(10**6)}"
        p = f"http://example.org/p/{rng.choice(_WORDS)}"
        k = rng.randrange(10)
        if k < 4:
            o = f"http://example.org/o/{rng.choice(_WORDS)}{rng.randrange(1000)}"
            return f"<{s}> <{p}> <{o}> .", line(iri(s), iri(p), iri(o))
        v = f"{rng.choice(_WORDS)} {rng.randrange(10**4)}"
        if k < 6:
            lang = rng.choice(["en", "de", "fr-CA"])
            return (f'<{s}> <{p}> "{v}"@{lang} .',
                    line(iri(s), iri(p), lit(v, lang=lang)))
        if k < 8:
            dt = XSD + rng.choice(["string", "token"])
            return (f'<{s}> <{p}> "{v}"^^<{dt}> .',
                    line(iri(s), iri(p), lit(v, dt=dt)))
        return f'<{s}> <{p}> "{v}" .', line(iri(s), iri(p), lit(v))

    pool = [fact("shared") for _ in range(shared_facts)]
    turns, lines = [], []
    for c, n in enumerate(_turn_counts(rng, n_convs)):
        conv = f"c{c:06d}"
        for t in range(n):
            out = []
            for _ in range(rng.randint(2, 6)):
                k = rng.randrange(100)
                if k < 45:
                    text, ln = rng.choice(pool)
                elif k < 50:
                    lbl = f"x{rng.randrange(20)}"
                    p = f"http://example.org/p/{rng.choice(_WORDS)}"
                    o = f"http://example.org/o/{rng.randrange(100)}"
                    text = f"_:{lbl} <{p}> <{o}> ."
                    ln = line(f"_:{conv}-{lbl}", iri(p), iri(o))
                elif k < 52:  # the few escapes: the per-line slow path
                    s = f"http://example.org/{conv}/esc{rng.randrange(100)}"
                    v = rng.choice(_WORDS)
                    text = f'<{s}> <http://example.org/p/say> "{v} \\"q\\" \\u00e9" .'
                    ln = line(iri(s), iri("http://example.org/p/say"),
                              lit(f'{v} "q" \u00e9'))
                elif k < 54:
                    out.append(f"# note {rng.choice(_WORDS)}")
                    continue
                else:
                    text, ln = fact(conv)
                out.append(text)
                lines.append(ln)
            turns.append(_row(conv, t, "\n".join(out), c))
    return _finish(turns, lines, [], t0, layout="colocated")


# ---- natural-language turns with dictionary aliases ----

def _word(rng: random.Random, head: str, used: set) -> str:
    while True:
        w = head + "".join(rng.choice("bcdfghjklmnprstvz") + rng.choice("aeiou")
                           for _ in range(3))
        if w not in used:
            used.add(w)
            return w


def entity_corpus(seed: int, n_convs: int, n_entities: int = 600,
                  words_per_turn: int = 40) -> Corpus:
    """Filler, alias and context words come from disjoint vocabularies
    (their first letters differ), every alias word belongs to exactly
    one alias, and a turn never holds two entities that share an
    alias — so the dictionary match, the context-resolved link and the
    emitted triples are all known exactly."""
    t0 = time.perf_counter()
    rng = random.Random(f"entity:{seed}")
    used: set = set()
    filler = [_word(rng, "f", used) for _ in range(2000)]
    aliases: list[str] = []
    entities, by_alias = [], {}
    ctx_of = {}
    for e in range(n_entities):
        single = [a for a in aliases if len(by_alias[a]) == 1]
        if single and rng.randrange(100) < 15:
            # ambiguous: reuse an alias that has one entity so far
            alias = rng.choice(single)
        else:
            alias = " ".join(_word(rng, "a", used)
                             for _ in range(1 + (rng.randrange(3) == 0)))
            aliases.append(alias)
        ctx = [_word(rng, "x", used) for _ in range(3)]
        iri_ = f"http://kg.example/entity/{e}"
        entities.append((e, iri_, alias, ctx))
        by_alias.setdefault(alias, []).append(e)
        ctx_of[e] = ctx
    turns, lines, candidates = [], [], 0
    for c, n in enumerate(_turn_counts(rng, n_convs)):
        conv = f"c{c:06d}"
        for t in range(n):
            # segments: an alias is inserted whole, never inside another
            segs = [rng.choice(filler) for _ in range(words_per_turn)]
            for alias in rng.sample(aliases, rng.randrange(4)):
                e = rng.choice(by_alias[alias])
                segs.insert(rng.randrange(len(segs) + 1), alias)
                if len(by_alias[alias]) > 1:
                    segs.insert(rng.randrange(len(segs) + 1),
                                rng.choice(ctx_of[e]))
                lines.append(line(f"<urn:conv:{conv}:turn:{t}>",
                                  iri(MENTIONS), iri(entities[e][1])))
                candidates += len(by_alias[alias])
            turns.append(_row(conv, t, " ".join(segs), c))
    return _finish(turns, lines, [], t0, entities=entities,
                   candidates=candidates)
