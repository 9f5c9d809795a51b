"""Rule-table model: the driver-side IR every mapping compiles to.

Mirrors the reference's flat ``rml_df`` rule table (one row per normalized
TriplesMap × PredicateObjectMap; reference:
src/morph_kgc/mapping/mapping_constants.py:13-23) but as typed dataclasses.
Rules are tiny driver-side objects; each compiles to a Spark DataFrame
expression pipeline in :mod:`morph_kgc_spark.plans.compiler`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace as _dc_replace
from typing import Optional

# --- term map kinds (reference: src/morph_kgc/constants.py) ---------------
TEMPLATE = "template"
CONSTANT = "constant"
REFERENCE = "reference"
EXECUTION = "execution"  # FNML function execution

# --- term types ------------------------------------------------------------
IRI = "iri"
LITERAL = "literal"
BLANK_NODE = "blanknode"
QUOTED_TRIPLE = "quoted"  # RML-star

# --- XSD datatypes that trigger natural-mapping normalization --------------
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATETIME = XSD + "dateTime"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_DATE = XSD + "date"
XSD_TIME = XSD + "time"
XSD_STRING = XSD + "string"
XSD_HEX_BINARY = XSD + "hexBinary"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# DOTALL: reference uses [^}]+ (utils.py:107) which spans newlines —
# column names containing \n are legal
_TEMPLATE_REF_RE = re.compile(r"(?<!\\)\{(.+?)(?<!\\)\}", re.DOTALL)


def references_in_template(template: str) -> list[str]:
    """References enclosed in non-escaped curly braces.

    Reference: src/morph_kgc/utils.py (get_references_in_template).
    """
    return [m.group(1).replace("\\{", "{").replace("\\}", "}")
            for m in _TEMPLATE_REF_RE.finditer(template)]


def template_invariant(template: str) -> str:
    """Constant prefix of a template before the first reference.

    Drives mapping partitioning (reference:
    src/morph_kgc/mapping/mapping_partitioner.py:18-33).
    """
    m = _TEMPLATE_REF_RE.search(template)
    return template[: m.start()] if m else template


@dataclass(frozen=True)
class TermMap:
    """One of subject/predicate/object/graph/datatype/language maps.

    For ``kind == EXECUTION``, ``value`` is the function IRI and ``args``
    binds parameter names to argument term maps (constants / references /
    templates / nested executions) — mirroring the reference's fnml_df
    rows (src/morph_kgc/mapping/mapping_constants.py:29-31).
    """

    kind: str                      # TEMPLATE | CONSTANT | REFERENCE | EXECUTION
    value: str                     # template string / constant / column name / fn id
    termtype: str = IRI            # IRI | LITERAL | BLANK_NODE | QUOTED_TRIPLE
    args: tuple = ()               # EXECUTION only: ((param_name, TermMap), ...)

    def but(self, **kw) -> "TermMap":
        return _dc_replace(self, **kw)

    @property
    def references(self) -> list[str]:
        if self.kind == TEMPLATE:
            return references_in_template(self.value)
        if self.kind == REFERENCE:
            return [self.value]
        if self.kind == EXECUTION:
            refs: list[str] = []
            for _, arg in self.args:
                refs.extend(arg.references)
            return refs
        return []

    @property
    def invariant(self) -> str:
        """Constant prefix used for disjointness analysis."""
        if self.kind == CONSTANT:
            return self.value
        if self.kind == TEMPLATE:
            return template_invariant(self.value)
        return ""  # plain reference / execution: no invariant


@dataclass(frozen=True)
class JoinCondition:
    child: str   # column in child logical source
    parent: str  # column in parent logical source


@dataclass(frozen=True)
class Source:
    """Logical source: a named table/path + optional SQL view query.

    The reference dispatches on source type (materializer.py:58-70); here a
    Source resolves to a DataFrame via sources.registry.load_source.
    """

    kind: str                     # "table" | "parquet" | "csv" | "json" | "sql" | "df"
    value: str                    # table name / path / SQL text / registry key
    options: dict = field(default_factory=dict)

    def cache_key(self) -> str:
        return f"{self.kind}::{self.value}::{sorted(self.options.items())!r}"


@dataclass(frozen=True)
class GatherSpec:
    """RML-CC collection/container gather (object OR subject position).

    ``head`` present → named collection (the gathering term map's own
    template/constant is the collection node); absent → unnamed (a fresh
    deterministic bnode per group). ``position == "subject"`` puts the
    collection node in subject position (reference
    materializer.py:454-892); the owning Rule then carries the triples
    map's predicate-object pairs in ``Rule.gather_poms``.
    """

    references: tuple          # gather value columns (≥2 → melt)
    gather_as: str             # full IRI: rdf:List | Bag | Seq | Alt
    value_termtype: str = LITERAL
    value_datatype: Optional[str] = None
    head: Optional[TermMap] = None
    strategy: str = "append"   # rml:append (only materialized strategy)
    allow_empty: bool = False
    position: str = "object"   # "object" | "subject"


@dataclass(frozen=True)
class Rule:
    """One normalized (TriplesMap × PredicateObjectMap) rule."""

    source: Source
    subject: TermMap
    predicate: TermMap
    object: Optional[TermMap] = None
    graph: Optional[TermMap] = None

    # referencing-object-map join (reference: materializer.py:896-987)
    parent_source: Optional[Source] = None
    parent_subject: Optional[TermMap] = None
    join_conditions: tuple[JoinCondition, ...] = ()

    # literal annotations (object position only)
    datatype: Optional[TermMap] = None      # rendered as ^^<dt>
    language: Optional[TermMap] = None      # rendered as @lang

    # RML-star: quoted triples maps (subject/object may be full sub-rules)
    quoted_subject: Optional["Rule"] = None
    quoted_object: Optional["Rule"] = None
    # join for a quoted SUBJECT map (object-side joins use join_conditions;
    # reference keeps them separate too: subject_join_conditions column)
    subject_join_conditions: tuple[JoinCondition, ...] = ()

    # RML-CC gather (object position, or subject position when
    # gather.position == "subject")
    gather: Optional[GatherSpec] = None
    # subject-position gather only: the TM's predicate-object pairs,
    # ((predicate TermMap, object TermMap, datatype TM|None,
    #   language TM|None), ...) — all emitted with the collection node
    # as subject (reference materializer.py:470-480, 893-905)
    gather_poms: tuple = ()

    triples_map_id: str = ""
    # plans/partitioner.py group label; the compiler no longer reads it
    mapping_partition: str = ""
    # document @base: relative IRI-position data values resolve against it
    # at materialization time (R2RML term-generation rules; row-dependent)
    base_iri: str = ""

    def but(self, **kw) -> "Rule":
        return _dc_replace(self, **kw)

    @property
    def references(self) -> list[str]:
        """All child-source columns this rule reads (column pruning).

        Reference: materializer.py:73-103 (_get_references_in_rml_rule).
        """
        refs: list[str] = []
        for tm in (self.subject, self.predicate, self.object,
                   self.graph, self.datatype, self.language):
            if tm is not None:
                refs.extend(tm.references)
        for jc in self.join_conditions:
            refs.append(jc.child)
        for jc in self.subject_join_conditions:
            refs.append(jc.child)
        if self.parent_subject is not None and self.parent_source is None:
            # self-join-eliminated referencing map: the parent subject
            # map evaluates over the CHILD's own rows, so its references
            # are child references (found via RMLTC0008b, where the
            # parent subject template uses a column the child subject
            # does not)
            refs.extend(self.parent_subject.references)
        if self.gather is not None:
            refs.extend(self.gather.references)
            if self.gather.head is not None:
                refs.extend(self.gather.head.references)
        for pom in self.gather_poms:
            for tm in pom:
                if tm is not None:
                    refs.extend(tm.references)
        if self.quoted_subject is not None and not self.subject_join_conditions:
            # shared-source quoted subject reads from child rows; with a
            # join its refs come from the joined-in parent side
            refs.extend(self.quoted_subject.references)
        if self.quoted_object is not None and self.parent_source is None \
                and not self.join_conditions:
            # shared-source quoted object: quoted refs read from child rows;
            # with a join the quoted refs come from the parent side
            refs.extend(self.quoted_object.references)
        # dedup preserving order
        seen: set[str] = set()
        return [r for r in refs if not (r in seen or seen.add(r))]

    @property
    def subject_parent_references(self) -> list[str]:
        """Columns read from the quoted-subject join's parent side."""
        refs: list[str] = []
        if self.quoted_subject is not None and self.subject_join_conditions:
            refs.extend(self.quoted_subject.references)
            for jc in self.subject_join_conditions:
                refs.append(jc.parent)
        seen: set[str] = set()
        return [r for r in refs if not (r in seen or seen.add(r))]

    @property
    def parent_references(self) -> list[str]:
        refs: list[str] = []
        if self.parent_subject is not None:
            refs.extend(self.parent_subject.references)
        if self.quoted_object is not None and self.parent_source is not None:
            refs.extend(self.quoted_object.references)
        for jc in self.join_conditions:
            refs.append(jc.parent)
        seen: set[str] = set()
        return [r for r in refs if not (r in seen or seen.add(r))]
