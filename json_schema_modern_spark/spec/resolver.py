"""Schema resource index + $ref resolution (the traverse phase).

Reproduces the static-analysis half of the reference evaluator: the
reference walks every subschema once at document-add time, collecting
``$id``/``$anchor`` identifiers into a ``resource_index`` (URI → schema
node) that later ``$ref`` hops resolve through
(/root/reference/lib/JSON/Schema/Modern/Document.pm:64-90,152-230 and
Modern.pm:858-874,1114-1174).  This module is the pure-Python equivalent:
it runs once on the driver, produces a symbol table, and the compilers
flatten ``$ref`` edges through it.

No Spark imports here — unit-testable standalone.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import urldefrag, urljoin

# Dialect ranks: draft4 < draft6 < draft7 < 2019-09 < 2020-12.  The walker
# visits ONLY keyword positions the dialect defines — a $id/$anchor inside
# an unknown keyword (or a keyword from a later draft) is plain data and
# must not register (t/additional-tests-*/unknownKeyword.json,
# faux-buggy-schemas.json, not-an-anchor.json).
_DIALECT_RANK = {"4": 0, "6": 1, "7": 2, "2019-09": 3, "2020-12": 4}


def _walk_tables(rank: int) -> tuple[set, set, set]:
    """(single-subschema, list-of-subschemas, map-of-subschemas) keyword
    sets for a dialect rank (the reference's per-draft vocabulary keyword
    lists, Vocabulary/*.pm)."""
    single = {"additionalProperties", "items", "not"}
    lists = {"allOf", "anyOf", "oneOf"}
    maps = {"definitions", "patternProperties", "properties"}
    if rank <= 3:
        single.add("additionalItems")        # removed in 2020-12
    if rank >= 1:
        single |= {"contains", "propertyNames"}
    if rank >= 2:
        single |= {"if", "then", "else"}
    if rank >= 3:
        single |= {"unevaluatedItems", "unevaluatedProperties",
                   "contentSchema"}
        maps |= {"$defs", "dependentSchemas"}
    if rank >= 4:
        lists.add("prefixItems")
    return single, lists, maps

_ANCHOR_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9._-]*$")
_JSON_POINTER_RE = re.compile(r"^(/([^/~]|~[01])*)*$")

# RFC 3986 characters legal anywhere in a URI (sans '#', handled as the
# fragment separator): unreserved / gen-delims / sub-delims / pct-encoded.
# The reference's equivalent is a Mojo::URL encode round-trip
# (Utilities.pm:885-899) — any character Mojo would percent-encode (space,
# '^', non-ASCII, a bare '%') makes the round-trip differ and the value
# invalid; this character class is that same criterion stated directly.
_URI_CHARS_RE = re.compile(
    r"^(?:[A-Za-z0-9\-._~:/?\[\]@!$&'()*+,;=]|%[0-9A-Fa-f]{2})*$")
_URI_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
# fragment forms a schema-internal URI may carry: empty, plain-name anchor
# (superset across drafts), or JSON pointer (Utilities.pm:893-896)
_FRAG_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_:.\-]*$")


def _assert_uri_reference(value: Any, kw: str, pointer: str) -> None:
    """Traverse-time URI-reference well-formedness (assert_uri_reference,
    Utilities.pm:885-899): ASCII only, no characters that would need
    percent-encoding, and any fragment restricted to the three schema
    fragment forms.  Raises SpecError — the reference turns this into a
    traverse error that invalidates the whole document."""
    if not isinstance(value, str):
        raise SpecError(f"{kw} at {pointer or '/'} is not a string")
    head, sep, frag = value.partition("#")
    if not _URI_CHARS_RE.match(head) or not _URI_CHARS_RE.match(frag):
        raise SpecError(
            f"{kw} at {pointer or '/'}: {value!r} is not a valid URI-reference")
    if sep and frag and not _FRAG_NAME_RE.match(frag) \
            and not _JSON_POINTER_RE.match(frag):
        raise SpecError(
            f"{kw} at {pointer or '/'}: {value!r} is not a valid URI-reference")


def _assert_uri(value: Any, kw: str, pointer: str) -> None:
    """Absolute-URI well-formedness (assert_uri, Utilities.pm:903-920):
    URI-reference rules plus a required scheme."""
    _assert_uri_reference(value, kw, pointer)
    if not _URI_SCHEME_RE.match(value):
        raise SpecError(
            f"{kw} at {pointer or '/'}: {value!r} is not a valid URI "
            "(missing scheme)")


def _check_ref_fragment(ref: str, kw: str, pointer: str) -> None:
    """Traverse-time $ref/$dynamicRef fragment SYNTAX check (the reference
    rejects malformed fragments when the document is added, even in
    never-evaluated branches — Document.pm traverse; exercised by
    t/additional-tests-draft2020-12/{ref,badRef}.json).  Resolution itself
    stays lazy: a well-formed ref to a missing document only errors if
    evaluation actually reaches it."""
    frag = ref.partition("#")[2]
    if not frag:
        return
    if frag.startswith("/"):
        if not _JSON_POINTER_RE.match(frag):
            raise SpecError(
                f"{kw} at {pointer or '/'}: invalid JSON-pointer fragment {frag!r}")
    elif not _ANCHOR_RE.match(frag):
        raise SpecError(
            f"{kw} at {pointer or '/'}: invalid anchor fragment {frag!r}")


STANDARD_DIALECTS = {
    "https://json-schema.org/draft/2020-12/schema",
    "https://json-schema.org/draft/2019-09/schema",
    "http://json-schema.org/draft-07/schema",
    "http://json-schema.org/draft-07/schema#",
    "http://json-schema.org/draft-06/schema",
    "http://json-schema.org/draft-06/schema#",
    "http://json-schema.org/draft-04/schema",
    "http://json-schema.org/draft-04/schema#",
}

VOCABS_BY_DIALECT = {
    "2020-12": {
        f"https://json-schema.org/draft/2020-12/vocab/{n}"
        for n in ("core", "applicator", "validation", "unevaluated",
                  "format-annotation", "format-assertion", "content",
                  "meta-data")
    },
    "2019-09": {
        f"https://json-schema.org/draft/2019-09/vocab/{n}"
        for n in ("core", "applicator", "validation", "format", "content",
                  "meta-data")
    },
}


def metaschema_error(registry, dialect: str, meta_uri: str,
                     base: str) -> str | None:
    """A registered schema used as a METASCHEMA via $schema
    (vocabulary.json semantics; Modern.pm _get_metaschema_vocabulary_classes):
    the document must exist in the registry and its $vocabulary must be
    well-formed for the session dialect.  Standard dialect URIs short-
    circuit to ok.  Shared by both evaluation tiers."""
    key = urldefrag(urljoin(base, meta_uri))[0]
    if meta_uri in STANDARD_DIALECTS or key in STANDARD_DIALECTS:
        return None
    meta = registry.roots.get(key)
    if meta is None:
        return f"EXCEPTION: unable to find resource '{meta_uri}'"
    if isinstance(meta, dict) and "$vocabulary" in meta:
        vocab = meta["$vocabulary"]
        known = VOCABS_BY_DIALECT.get(dialect, set())
        if not isinstance(vocab, dict):
            return "metaschema $vocabulary is not an object"
        err = None
        core = f"https://json-schema.org/draft/{dialect}/vocab/core"
        if vocab.get(core) is not True:
            err = "the Core vocabulary must be specified, with a value of true"
        for vuri, req in vocab.items():
            if not isinstance(req, bool):
                err = f"$vocabulary value for {vuri!r} is not a boolean"
            elif vuri.startswith("https://json-schema.org/draft/") \
                    and vuri not in known:
                err = f"{vuri!r} uses a different specification version"
            elif req and vuri not in known:
                err = f"{vuri!r} is not a known vocabulary"
        return err
    return None


class SpecError(ValueError):
    """Raised for malformed specs (the reference's traverse-time errors)."""


def json_pointer_escape(token: str) -> str:
    return token.replace("~", "~0").replace("/", "~1")


def json_pointer_unescape(token: str) -> str:
    return token.replace("~1", "/").replace("~0", "~")


def canonical_json(obj: Any) -> str:
    """Sorted-key compact JSON — the engine's deep-equality / fingerprint
    encoding (mirrors the reference's is_equal semantics: order-insensitive
    objects, order-sensitive arrays; Utilities.pm:242-299)."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def spec_fingerprint(schema: Any) -> str:
    """Stable identity of a compiled plan (reference dedups documents by
    MD5 of canonical JSON, Modern.pm:186-197)."""
    return hashlib.md5(canonical_json(schema).encode("utf-8")).hexdigest()


@dataclass
class Resource:
    """One addressable schema resource (an $id scope or an anchor)."""

    node: Any                      # the schema dict/bool
    canonical_uri: str             # absolute URI of this resource
    base_uri: str                  # base for resolving refs found inside
    pointer: str                   # JSON pointer from the document root


@dataclass
class SchemaRegistry:
    """Symbol table for one or more schema documents.

    ``add_schema(schema, uri)`` walks the document and registers every
    ``$id`` resource and ``$anchor``; ``resolve(ref, base_uri)`` returns the
    target node plus the base URI in force at the target (needed to resolve
    refs found inside the target).
    """

    resources: dict[str, Resource] = field(default_factory=dict)
    anchors: dict[tuple[str, str], Resource] = field(default_factory=dict)
    dynamic_anchors: dict[tuple[str, str], Resource] = field(default_factory=dict)
    # base URIs of resources declaring `$recursiveAnchor: true` (2019-09)
    recursive_anchors: set[str] = field(default_factory=set)
    roots: dict[str, Any] = field(default_factory=dict)
    # dialect each root was walked under — identifier rules differ per
    # draft, so content dedup only applies within the same dialect
    root_dialects: dict[str, str] = field(default_factory=dict)
    # (keyword, pointer) of every registered custom-vocabulary keyword the
    # walk met at a keyword position
    custom_keywords: list[tuple[str, str]] = field(default_factory=list)

    def add_schema(self, schema: Any, default_uri: str = "",
                   legacy_id: bool = False, dialect: str | None = None) -> str:
        """Register a schema document; returns its canonical root URI.

        ``dialect`` selects the draft's identifier/keyword rules (see
        _walk_tables); default 2020-12.  ``legacy_id=True`` is the
        backward-compatible spelling of ``dialect="4"`` — draft4's plain
        ``id`` keyword as base-URI declaration (V/Core.pm legacy list)."""
        if dialect is None:
            dialect = "4" if legacy_id else "2020-12"
        rank = _DIALECT_RANK[dialect]
        if isinstance(schema, bool):
            root_uri = default_uri
            self.roots[root_uri] = schema
            self.root_dialects[root_uri] = dialect
            self.resources[root_uri] = Resource(schema, root_uri, root_uri, "")
            return root_uri
        if not isinstance(schema, dict):
            raise SpecError(f"schema must be object or boolean, got {type(schema).__name__}")
        id_kw = "id" if rank == 0 else "$id"
        root_id = schema.get(id_kw)
        root_uri = urljoin(default_uri, root_id) \
            if isinstance(root_id, str) else default_uri
        root_uri, frag = urldefrag(root_uri)
        # drafts 4-7 allow a plain-name anchor fragment on ANY id, including
        # the document root: both the fragment-only form ("#name") and the
        # combined rebase+anchor form ("doc.json#name") — _walk registers
        # the anchor itself (V/Core.pm legacy anchor path; the draft4
        # corpus's "weird but valid" case applies at the root too).
        if frag and not (rank <= 2 and isinstance(root_id, str)
                         and _ANCHOR_RE.match(frag)):
            raise SpecError("root $id must not carry a fragment")
        if root_uri in self.roots \
                and self.root_dialects.get(root_uri) == dialect \
                and canonical_json(self.roots[root_uri]) == canonical_json(schema):
            # MD5-style content dedup (Modern.pm:186-197): re-adding an
            # identical document is a no-op — this is what lets a THAWed
            # registry skip the traverse walk when the compiler re-adds
            # the spec it was frozen with
            return root_uri
        self.roots[root_uri] = schema
        self.root_dialects[root_uri] = dialect
        self._walk(schema, base_uri=root_uri, pointer="", rank=rank)
        return root_uri

    def _register(self, uri: str, res: Resource) -> None:
        if uri in self.resources and self.resources[uri].node is not res.node:
            raise SpecError(f"duplicate canonical URI: {uri!r}")
        self.resources[uri] = res

    def _walk(self, node: Any, base_uri: str, pointer: str,
              rank: int = 4) -> None:
        if isinstance(node, bool):
            return
        if not isinstance(node, dict):
            raise SpecError(f"invalid subschema at {pointer or '/'}: not object/boolean")

        this_base = base_uri
        id_kw = "id" if rank == 0 else "$id"
        has_id = id_kw in node
        if has_id:
            v = node[id_kw]
            if not isinstance(v, str):
                raise SpecError(f"{id_kw} at {pointer or '/'} is not a string")
            _assert_uri_reference(v, id_kw, pointer)
            if v in ("", "#"):
                # empty / empty-fragment $id is not a URI-reference that can
                # name a resource (t/additional-tests-draft2020-12/id.json)
                raise SpecError(f"{id_kw} at {pointer or '/'} must not be {v!r}")
            if rank <= 2 and v.startswith("#"):
                # drafts 4-7 declare plain-name ANCHORS through a
                # fragment-only $id / id (V/Core.pm legacy anchor path)
                name = v[1:]
                if not _ANCHOR_RE.match(name):
                    raise SpecError(
                        f"invalid anchor {id_kw} at {pointer or '/'}: {v!r}")
                key = (this_base, name)
                if key in self.anchors:
                    raise SpecError(
                        f"duplicate anchor {name!r} in resource {this_base!r}")
                self.anchors[key] = Resource(
                    node, f"{this_base}#{name}", this_base, pointer)
                has_id = False           # not a resource base
                if pointer == "":
                    self._register(base_uri, Resource(node, base_uri, base_uri, ""))
            else:
                new_uri, frag = urldefrag(urljoin(base_uri, v))
                if frag:
                    if rank > 2 or not _ANCHOR_RE.match(frag):
                        raise SpecError(f"{id_kw} at {pointer or '/'} must not carry a fragment")
                    # drafts 4-7: `id: "doc.json#name"` BOTH re-bases the
                    # resource and declares a plain-name anchor on it
                    # (t/additional-tests-draft4/id.json "weird but valid")
                    self.anchors[(new_uri, frag)] = Resource(
                        node, f"{new_uri}#{frag}", new_uri, pointer)
                this_base = new_uri
                self._register(new_uri, Resource(node, new_uri, new_uri, pointer))
        elif pointer == "":
            self._register(base_uri, Resource(node, base_uri, base_uri, ""))

        if rank == 3 and node.get("$recursiveAnchor") is True:
            self.recursive_anchors.add(this_base)

        anchor_kws = ()
        if rank == 3:
            anchor_kws = (("$anchor", self.anchors),)
        elif rank >= 4:
            anchor_kws = (("$anchor", self.anchors),
                          ("$dynamicAnchor", self.dynamic_anchors))
        for kw, table in anchor_kws:
            if kw in node:
                name = node[kw]
                if not isinstance(name, str) or not _ANCHOR_RE.match(name):
                    raise SpecError(f"invalid {kw} value at {pointer or '/'}: {name!r}")
                key = (this_base, name)
                if key in table:
                    raise SpecError(f"duplicate {kw} {name!r} in resource {this_base!r}")
                table[key] = Resource(node, f"{this_base}#{name}", this_base, pointer)
                if kw == "$dynamicAnchor":
                    # a $dynamicAnchor is also addressable as a plain anchor
                    self.anchors.setdefault(key, table[key])

        ref_kws = ["$ref"]
        if rank == 3:
            ref_kws.append("$recursiveRef")
        if rank >= 4:
            ref_kws.append("$dynamicRef")
        for kw in ref_kws:
            if kw in node and isinstance(node[kw], str):
                # URI character well-formedness first (assert_uri_reference,
                # Core.pm _traverse_keyword_ref), then the per-form fragment
                # syntax — both at ADD time even in never-evaluated branches
                # (t/invalid-schemas/ref.json)
                _assert_uri_reference(node[kw], kw, pointer)
                _check_ref_fragment(node[kw], kw, pointer)

        if isinstance(node.get("$schema"), str):
            # $schema must be a well-formed absolute URI
            # (Core.pm _traverse_keyword_schema → assert_uri)
            _assert_uri(node["$schema"], "$schema", pointer)

        # regex SYNTAX is a traverse-time check (assert_pattern,
        # V/Validation.pm / V/Applicator.pm traverse) — even in branches
        # evaluation never reaches.  Dialect note: validated against
        # Python's `re` here and Java regex in the Spark tier, the same
        # deviation class the reference accepts vs ECMA-262.
        if isinstance(node.get("pattern"), str):
            try:
                re.compile(node["pattern"])
            except re.error as exc:
                raise SpecError(
                    f"pattern at {pointer or '/'} is not a valid regular "
                    f"expression: {exc}") from exc
        if isinstance(node.get("patternProperties"), dict):
            for pat in node["patternProperties"]:
                try:
                    re.compile(pat)
                except re.error as exc:
                    raise SpecError(
                        f"patternProperties key {pat!r} at {pointer or '/'} "
                        f"is not a valid regular expression: {exc}") from exc

        # custom-vocabulary traverse hooks run during the registry walk so
        # a malformed custom keyword value invalidates the whole document
        # even inside never-evaluated $defs branches — traverse-phase
        # semantics (Modern.pm _traverse; the compiler only reaches
        # keywords on compiled paths).  Local import: vocabulary.py is a
        # leaf module but keeps resolver importable without it at startup.
        from json_schema_modern_spark.spec.vocabulary import (
            has_vocabularies, registered_keywords,
        )
        if has_vocabularies():
            for ckw, (_voc, ks) in registered_keywords().items():
                if ckw not in node:
                    continue
                self.custom_keywords.append((ckw, pointer))
                if ks.traverse is not None:
                    try:
                        ks.traverse(node[ckw])
                    except ValueError as exc:
                        raise SpecError(
                            f"{ckw} {exc} (at {pointer or '/'})") from exc

        if "$vocabulary" in node and rank >= 3:
            # Core.pm:363-391: object with boolean values, absolute-URI
            # keys, and only at a schema resource root.  Vocabulary-LIST
            # semantics (core required, unknown-REQUIRED aborts) stay where
            # the reference puts them — at metaschema USE time
            # (_check_vocabulary in the compiler, _metaschema_error in
            # pyeval.full).  In drafts 4-7 $vocabulary is an unknown
            # keyword — ignored (t/additional-tests-draft7/vocabulary.json).
            vocab = node["$vocabulary"]
            if not isinstance(vocab, dict):
                raise SpecError(
                    f"$vocabulary at {pointer or '/'} is not an object")
            if not has_id and pointer != "":
                raise SpecError(
                    "$vocabulary can only appear at the schema resource root")
            for vuri, req in vocab.items():
                if not isinstance(req, bool):
                    raise SpecError(
                        f'$vocabulary value at "{vuri}" is not a boolean')
                _assert_uri(vuri, "$vocabulary", pointer)

        single, lists, maps = _walk_tables(rank)
        for kw, val in node.items():
            p = f"{pointer}/{json_pointer_escape(kw)}"
            if kw in single and (isinstance(val, (dict, bool))):
                self._walk(val, this_base, p, rank)
            elif kw == "items" and isinstance(val, list):  # pre-2020-12 array form
                for i, sub in enumerate(val):
                    self._walk(sub, this_base, f"{p}/{i}", rank)
            elif kw in lists and isinstance(val, list):
                for i, sub in enumerate(val):
                    self._walk(sub, this_base, f"{p}/{i}", rank)
            elif kw in maps and isinstance(val, dict):
                for name, sub in val.items():
                    self._walk(sub, this_base, f"{p}/{json_pointer_escape(name)}",
                               rank)
            elif kw == "dependencies" and rank <= 2 and isinstance(val, dict):
                # draft4-7 schema-form dependencies values are subschemas
                for name, sub in val.items():
                    if not isinstance(sub, list):
                        self._walk(sub, this_base,
                                   f"{p}/{json_pointer_escape(name)}", rank)

    # -- resolution -------------------------------------------------------

    def _pointer_get(self, root: Any, pointer: str) -> Any:
        node = root
        if pointer in ("", "/"):
            return node if pointer == "" else self._step(node, "")
        for raw in pointer.lstrip("/").split("/"):
            node = self._step(node, json_pointer_unescape(raw))
        return node

    @staticmethod
    def _step(node: Any, token: str) -> Any:
        if isinstance(node, list):
            try:
                return node[int(token)]
            except (ValueError, IndexError) as exc:
                raise SpecError(f"bad pointer index {token!r}") from exc
        if isinstance(node, dict):
            if token not in node:
                raise SpecError(f"pointer token {token!r} not found")
            return node[token]
        raise SpecError(f"cannot index {type(node).__name__} with {token!r}")

    def split_ref(self, ref: str, base_uri: str) -> tuple[str, str]:
        """(document URI, fragment) for a $ref value.  Fragment-only refs
        stay within the base document WITHOUT urljoin (urljoin cannot
        handle non-hierarchical schemes like tag:/urn: used for synthetic
        root URIs)."""
        if ref.startswith("#"):
            return base_uri, ref[1:]
        return urldefrag(urljoin(base_uri, ref))

    def resolve(self, ref: str, base_uri: str) -> Resource:
        """Resolve a $ref value against the base URI in force."""
        uri, frag = self.split_ref(ref, base_uri)
        if frag and not frag.startswith("/"):
            res = self.anchors.get((uri, frag))
            if res is None:
                raise SpecError(f"unresolvable anchor ref {ref!r} (base {base_uri!r})")
            return res
        base = self.resources.get(uri)
        if base is None:
            raise SpecError(f"unresolvable $ref {ref!r} (base {base_uri!r})")
        if not frag:
            return base
        # Walk the pointer tracking the base URI in force: every $id'd
        # resource the pointer crosses re-bases refs found inside the
        # target (reference: pointer hops land mid-document and the
        # enclosing resource's canonical URI governs — Modern.pm:1114-1174;
        # exercised by ref.json "change folder in subschema").
        node = base.node
        inner_base = base.canonical_uri
        tokens = [] if frag == "" else [json_pointer_unescape(t)
                                        for t in frag.lstrip("/").split("/")]
        for token in tokens:
            node = self._step(node, token)
            if isinstance(node, dict):
                for k in ("$id", "id"):
                    v = node.get(k)
                    if isinstance(v, str) and v not in ("", "#"):
                        cand = urldefrag(urljoin(inner_base, v))[0]
                        if cand in self.resources \
                                and self.resources[cand].node is node:
                            inner_base = cand
                            break
        return Resource(node, f"{base.canonical_uri}#{frag}", inner_base, frag)

    def resolve_dynamic(self, name: str, dynamic_scope: list[str]) -> Resource | None:
        """$dynamicRef: the *outermost* resource in the dynamic scope that
        declares $dynamicAnchor ``name`` wins (V/Core.pm:327-361 semantics)."""
        for base in dynamic_scope:
            res = self.dynamic_anchors.get((base, name))
            if res is not None:
                return res
        return None

    # -- serialization (reference FREEZE/THAW, Modern.pm:1259-1279) ---------

    def _locate(self, res: Resource) -> tuple[str, str]:
        """(root uri, pointer) addressing a resource's node inside the
        serialized root documents — the relink key for thaw."""
        for root_uri, doc in self.roots.items():
            try:
                node = self._pointer_get(doc, res.pointer)
            except SpecError:
                continue
            if node is res.node:
                return root_uri, res.pointer
        raise SpecError(
            f"cannot locate resource {res.canonical_uri!r} in any root")

    def freeze(self) -> dict:
        """JSON-able snapshot of the symbol table — the analogue of the
        reference's serialized ``_resource_index`` (Modern.pm:1259-1265,
        t/serialization.t).  Nodes are stored as (root, pointer) addresses
        into ``roots`` and re-linked at thaw, so shared structure survives
        the round trip; like the reference, code (compiled Columns) is NOT
        serialized and is re-derived lazily after thaw."""
        def table(entries):
            return [[list(k) if isinstance(k, tuple) else k,
                     *self._locate(r), r.canonical_uri, r.base_uri]
                    for k, r in entries]

        return {
            "roots": dict(self.roots),
            "root_dialects": dict(self.root_dialects),
            "resources": table(self.resources.items()),
            "anchors": table(self.anchors.items()),
            "dynamic_anchors": table(self.dynamic_anchors.items()),
            "recursive_anchors": sorted(self.recursive_anchors),
        }

    @classmethod
    def thaw(cls, frozen: dict) -> "SchemaRegistry":
        """Rebuild a registry from ``freeze()`` output WITHOUT re-walking
        the documents (the traverse phase already ran before freeze)."""
        reg = cls()
        reg.roots = dict(frozen["roots"])
        reg.root_dialects = dict(frozen.get("root_dialects", {}))
        reg.recursive_anchors = set(frozen["recursive_anchors"])

        def relink(rows, keyed):
            out = {}
            for key, root_uri, pointer, canonical_uri, base_uri in rows:
                node = reg._pointer_get(reg.roots[root_uri], pointer)
                out[tuple(key) if keyed else key] = Resource(
                    node, canonical_uri, base_uri, pointer)
            return out

        reg.resources = relink(frozen["resources"], keyed=False)
        reg.anchors = relink(frozen["anchors"], keyed=True)
        reg.dynamic_anchors = relink(frozen["dynamic_anchors"], keyed=True)
        return reg
