"""Pure-Python RDF/XML and Turtle parsers feeding the distributed RDF path.

The reference accepts RDF/XML, Turtle, N-Triples etc. via a sophia-crate
format switch (01_ingest/grebi_rdf2jsonl/src/main.rs:87-130) and holds the
whole graph in RAM. Here the line-oriented formats stay fully splittable
(sources/rdf.py), while RDF/XML / Turtle — which are *not* line-splittable
— are parsed per-FILE inside ``mapInPandas`` workers: the unit of
parallelism is the file, which is the same boundary the reference has,
but many files parse concurrently across the cluster and the output lands
directly in the distributed (s, p, o, g) relation.

No third-party RDF library exists in this environment, so the parsers are
self-contained subsets targeted at what OWL ontologies actually ship:

Turtle: @prefix/@base (and SPARQL-style PREFIX/BASE), prefixed names,
IRIs, ``a``, literals (quoted / triple-quoted, @lang, ^^datatype, numeric
and boolean shorthand), ``;`` and ``,`` continuations, blank-node labels,
anonymous ``[ ... ]`` property lists, and RDF collections ``( ... )``
expanded to rdf:first/rdf:rest chains.

RDF/XML: rdf:Description and typed node elements, rdf:about/ID/nodeID,
property elements with rdf:resource/nodeID, literal content with
rdf:datatype and xml:lang, nested node elements, rdf:parseType=
"Resource" | "Collection" | "Literal", and container li elements.

Terms are emitted in the *cleaned* convention of sources/rdf.py
(`_clean_term`): IRIs bare, literals as lexical form, blank nodes
``_:label`` — with labels made unique per file so graphs never collide.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
XML_NS = "http://www.w3.org/XML/1998/namespace"

Triple = tuple[str, str, str]


# --------------------------------------------------------------------------
# Turtle
# --------------------------------------------------------------------------

_TTL_TOKEN = re.compile(
    r"""
      (?P<comment>\#[^\n]*)
    | (?P<iri><[^>]*>)
    | (?P<lstr3>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"|'''(?:[^'\\]|\\.|'(?!''))*''')
    | (?P<lstr>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
    | (?P<dtype>\^\^)
    | (?P<bnode>_:[A-Za-z0-9_.-]+)
    | (?P<pname>(?:[A-Za-z_][\w.-]*)?:[\w.%-]*)
    | (?P<punct>[;,.\[\]()])
    | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<kw>[A-Za-z]+)
    | (?P<ws>\s+)
    """,
    re.VERBOSE,
)

_STR_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape(raw: str) -> str:
    out, i, n = [], 0, len(raw)
    while i < n:
        c = raw[i]
        if c == "\\" and i + 1 < n:
            e = raw[i + 1]
            if e in _STR_ESCAPES:
                out.append(_STR_ESCAPES[e]); i += 2; continue
            if e == "u" and i + 6 <= n:
                out.append(chr(int(raw[i + 2:i + 6], 16))); i += 6; continue
            if e == "U" and i + 10 <= n:
                out.append(chr(int(raw[i + 2:i + 10], 16))); i += 10; continue
        out.append(c); i += 1
    return "".join(out)


class _TurtleParser:
    def __init__(self, text: str, bnode_prefix: str):
        self.toks = self._tokenize(text)
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.bnode_prefix = bnode_prefix
        self._bn = 0
        self.triples: list[Triple] = []

    @staticmethod
    def _tokenize(text: str) -> list[tuple[str, str]]:
        toks = []
        pos = 0
        for m in _TTL_TOKEN.finditer(text):
            if m.start() != pos:
                bad = text[pos:m.start()].strip()
                if bad:
                    raise ValueError(f"unrecognised Turtle syntax near {bad[:40]!r}")
            pos = m.end()
            kind = m.lastgroup
            if kind in ("ws", "comment"):
                continue
            toks.append((kind, m.group(0)))
        if text[pos:].strip():
            raise ValueError(f"unrecognised Turtle syntax near {text[pos:pos+40]!r}")
        return toks

    # -- token helpers ----------------------------------------------------
    def _peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None)

    def _next(self):
        t = self._peek(); self.pos += 1
        return t

    def _fresh_bnode(self) -> str:
        self._bn += 1
        return f"_:{self.bnode_prefix}b{self._bn}"

    # -- term parsing ------------------------------------------------------
    def _resolve_pname(self, tok: str) -> str:
        pfx, _, local = tok.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"undefined prefix '{pfx}:' in {tok!r}")
        return self.prefixes[pfx] + local

    def _iri(self, tok: str) -> str:
        inner = tok[1:-1]
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", inner):
            return self.base + inner
        return _unescape(inner)

    def _term(self, kind: str, tok: str):
        """Returns cleaned term string."""
        if kind == "iri":
            return self._iri(tok)
        if kind == "bnode":
            return f"_:{self.bnode_prefix}{tok[2:]}"
        if kind in ("lstr", "lstr3"):
            body = tok[3:-3] if kind == "lstr3" else tok[1:-1]
            lit = _unescape(body)
            k, nxt = self._peek()
            if k == "langtag":
                self._next()
            elif k == "dtype":
                self._next()
                k2, t2 = self._next()
                if k2 == "iri":
                    pass
                elif t2 and ":" in (t2 or ""):
                    self._resolve_pname(t2)
                else:
                    raise ValueError(f"bad datatype token {t2!r}")
            return lit
        if kind == "num":
            return tok
        if kind == "kw" and tok in ("true", "false"):
            return tok
        if tok == "[":
            node = self._fresh_bnode()
            if self._peek()[1] != "]":
                self._predicate_object_list(node)
            k, t = self._next()
            if t != "]":
                raise ValueError(f"expected ] got {t!r}")
            return node
        if tok == "(":
            return self._collection()
        if tok and ":" in tok:
            return self._resolve_pname(tok)
        raise ValueError(f"unexpected term token {kind}:{tok!r}")

    def _collection(self) -> str:
        items = []
        while True:
            k, t = self._peek()
            if t == ")":
                self._next(); break
            self._next()
            items.append(self._term(k, t))
        if not items:
            return RDF_NIL
        head = self._fresh_bnode()
        cur = head
        for i, item in enumerate(items):
            self.triples.append((cur, RDF_FIRST, item))
            nxt = self._fresh_bnode() if i + 1 < len(items) else RDF_NIL
            self.triples.append((cur, RDF_REST, nxt))
            cur = nxt
        return head

    # -- grammar -----------------------------------------------------------
    def _predicate_object_list(self, subj: str):
        while True:
            k, t = self._next()
            if k == "kw" and t == "a":
                pred = RDF_TYPE
            elif k == "iri":
                pred = self._iri(t)
            elif t and ":" in t:
                pred = self._resolve_pname(t)
            else:
                raise ValueError(f"expected predicate, got {t!r}")
            while True:
                k2, t2 = self._next()
                obj = self._term(k2, t2)
                self.triples.append((subj, pred, obj))
                if self._peek()[1] == ",":
                    self._next(); continue
                break
            nk, nt = self._peek()
            if nt == ";":
                self._next()
                # allow trailing ';' before '.' or ']'
                if self._peek()[1] in (".", "]", None):
                    return
                continue
            return

    def parse(self) -> list[Triple]:
        while self.pos < len(self.toks):
            k, t = self._next()
            if k == "kw" and t.lower() == "prefix":          # SPARQL PREFIX
                _, ptok = self._next()
                _, itok = self._next()
                self.prefixes[ptok.rstrip(":").partition(":")[0]] = self._iri(itok)
                if self._peek()[1] == ".":
                    self._next()
                continue
            if k == "kw" and t.lower() == "base":
                _, itok = self._next()
                self.base = itok[1:-1]
                if self._peek()[1] == ".":
                    self._next()
                continue
            if k == "langtag" and t == "@prefix":
                _, ptok = self._next()
                _, itok = self._next()
                self.prefixes[ptok.rstrip(":").partition(":")[0]] = self._iri(itok)
                kd, td = self._next()
                if td != ".":
                    raise ValueError("@prefix not terminated by '.'")
                continue
            if k == "langtag" and t == "@base":
                _, itok = self._next()
                self.base = itok[1:-1]
                kd, td = self._next()
                if td != ".":
                    raise ValueError("@base not terminated by '.'")
                continue
            # triples block
            subj = self._term(k, t)
            self._predicate_object_list(subj)
            kd, td = self._next()
            if td != ".":
                raise ValueError(f"statement not terminated by '.', got {td!r}")
        return self.triples


def turtle_to_triples(text: str, bnode_prefix: str = "") -> list[Triple]:
    """Parse a Turtle document → list of cleaned (s, p, o) triples."""
    return _TurtleParser(text, bnode_prefix).parse()


# --------------------------------------------------------------------------
# RDF/XML
# --------------------------------------------------------------------------


def _qname_to_iri(tag: str) -> str:
    # ElementTree gives "{namespace}local"
    if tag.startswith("{"):
        ns, _, local = tag[1:].partition("}")
        return ns + local
    return tag


class _RdfXmlParser:
    def __init__(self, bnode_prefix: str):
        self.bnode_prefix = bnode_prefix
        self._bn = 0
        self.triples: list[Triple] = []

    def _fresh_bnode(self) -> str:
        self._bn += 1
        return f"_:{self.bnode_prefix}x{self._bn}"

    def _attr(self, el: ET.Element, local: str) -> str | None:
        return el.get("{%s}%s" % (RDF_NS, local))

    def _node_id(self, el: ET.Element, base: str) -> str:
        about = self._attr(el, "about")
        if about is not None:
            return about
        rid = self._attr(el, "ID")
        if rid is not None:
            return f"{base}#{rid}" if base else rid
        nid = self._attr(el, "nodeID")
        if nid is not None:
            return f"_:{self.bnode_prefix}{nid}"
        return self._fresh_bnode()

    def parse(self, text: str) -> list[Triple]:
        root = ET.fromstring(text)
        base = root.get("{%s}base" % XML_NS, "")
        if _qname_to_iri(root.tag) == RDF_NS + "RDF":
            nodes = list(root)
        else:
            nodes = [root]
        for el in nodes:
            self._node_element(el, base)
        return self.triples

    def _node_element(self, el: ET.Element, base: str) -> str:
        subj = self._node_id(el, base)
        tag_iri = _qname_to_iri(el.tag)
        if tag_iri != RDF_NS + "Description":
            self.triples.append((subj, RDF_TYPE, tag_iri))
        # attribute-abbreviated literal properties
        for k, v in el.attrib.items():
            iri = _qname_to_iri(k)
            if iri.startswith(RDF_NS) or iri.startswith(XML_NS):
                continue
            self.triples.append((subj, iri, v))
        li_n = 0
        for prop in el:
            li_n = self._property_element(subj, prop, base, li_n)
        return subj

    def _property_element(
        self, subj: str, prop: ET.Element, base: str, li_n: int
    ) -> int:
        pred = _qname_to_iri(prop.tag)
        if pred == RDF_NS + "li":
            li_n += 1
            pred = f"{RDF_NS}_{li_n}"
        parse_type = self._attr(prop, "parseType")
        res = self._attr(prop, "resource")
        nid = self._attr(prop, "nodeID")
        if res is not None:
            self.triples.append((subj, pred, res))
        elif nid is not None:
            self.triples.append((subj, pred, f"_:{self.bnode_prefix}{nid}"))
        elif parse_type == "Resource":
            node = self._fresh_bnode()
            self.triples.append((subj, pred, node))
            li2 = 0
            for sub in prop:
                li2 = self._property_element(node, sub, base, li2)
        elif parse_type == "Collection":
            items = [self._node_element(sub, base) for sub in prop]
            if not items:
                self.triples.append((subj, pred, RDF_NIL))
            else:
                head = self._fresh_bnode()
                self.triples.append((subj, pred, head))
                cur = head
                for i, item in enumerate(items):
                    self.triples.append((cur, RDF_FIRST, item))
                    nxt = self._fresh_bnode() if i + 1 < len(items) else RDF_NIL
                    self.triples.append((cur, RDF_REST, nxt))
                    cur = nxt
        elif parse_type == "Literal":
            xml_text = (prop.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in prop
            )
            self.triples.append((subj, pred, xml_text.strip()))
        elif len(prop):
            # nested node element(s)
            for sub in prop:
                obj = self._node_element(sub, base)
                self.triples.append((subj, pred, obj))
        else:
            # literal (datatype / lang are carried by the lexical form only,
            # matching _clean_term which strips tags from N-Triples too)
            self.triples.append((subj, pred, prop.text or ""))
        return li_n


def rdfxml_to_triples(text: str, bnode_prefix: str = "") -> list[Triple]:
    """Parse an RDF/XML document → list of cleaned (s, p, o) triples."""
    return _RdfXmlParser(bnode_prefix).parse(text)


# --------------------------------------------------------------------------
# Format detection
# --------------------------------------------------------------------------

_EXT_FORMAT = {
    ".nt": "ntriples", ".nq": "nquads",
    ".ttl": "turtle", ".n3": "turtle",
    ".owl": "rdfxml", ".rdf": "rdfxml", ".xml": "rdfxml",
}


def detect_format(path: str) -> str:
    """File extension → format name (gz-aware). Mirrors the reference's
    --rdf-format switch defaulting from the file name."""
    p = path.lower()
    if p.endswith(".gz"):
        p = p[:-3]
    for ext, fmt in _EXT_FORMAT.items():
        if p.endswith(ext):
            return fmt
    return "nquads"


def parse_document(text: str, fmt: str, bnode_prefix: str = "") -> list[Triple]:
    if fmt in ("turtle", "n3"):
        return turtle_to_triples(text, bnode_prefix)
    if fmt == "rdfxml":
        return rdfxml_to_triples(text, bnode_prefix)
    raise ValueError(f"parse_document handles turtle/rdfxml, not {fmt!r}")
