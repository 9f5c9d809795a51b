"""Mapping partitioning: disjointness analysis over template invariants.

The reference's signature optimization (SWJ paper; reference:
src/morph_kgc/mapping/mapping_partitioner.py:18-33, 159-358) groups rules
whose emitted triples *provably cannot collide*, so each group can be
deduplicated independently and unioned without a global distinct. There it
saves cross-process set unions. On Spark the labels no longer shape the
plan: ``materialize_rules`` runs one ``distinct()`` over all rules, whose
partial aggregate already dedups map-side.

Two algorithms:

- ``maximal`` (default, reference MAXIMAL, mapping_partitioner.py:36-228):
  try all 24 orderings of (S, P, O, G); for each, refine groups greedily —
  sort within the current group by the position's invariant and open a new
  subgroup whenever the next invariant does not extend the group's leading
  invariant (exact equality when every map in that position is constant;
  blank nodes always share a bucket; literal objects group by
  language/datatype). Keep the ordering with the most groups.
- ``cc`` (conservative connected components): two rules may emit the same
  triple only if in EVERY position their invariants are prefix-compatible;
  take components of the may-collide graph. Coarser but simpler.

Both are sound; maximal dominates (never fewer groups).
"""

from __future__ import annotations

from itertools import permutations

from morph_kgc_spark import model as M


def _invariants(rule: M.Rule) -> tuple[str, str, str, str]:
    def inv(tm) -> str:
        return tm.invariant if tm is not None else ""

    # gather rules also emit rdf:first/rest/_n triples with bnode/list
    # subjects — no useful invariant; conservatively collide with all
    if rule.gather is not None:
        return ("", "", "", "")

    # object position: a referencing object map's object is the parent
    # subject; quoted maps have '<< ' prefix
    if rule.quoted_object is not None:
        o = "<< " + _pos_invariant(rule.quoted_object.subject)
    elif rule.parent_subject is not None:
        o = _pos_invariant(rule.parent_subject)
    elif rule.object is not None:
        o = _pos_invariant(rule.object)
    else:
        o = ""

    if rule.quoted_subject is not None:
        s = "<< " + _pos_invariant(rule.quoted_subject.subject)
    else:
        s = _pos_invariant(rule.subject)

    return (s, _pos_invariant(rule.predicate), o, inv(rule.graph))


def _pos_invariant(tm: M.TermMap) -> str:
    """Invariant including the termtype wrapper, so IRIs never collide with
    literals/bnodes even with empty template prefixes."""
    if tm is None:
        return ""
    prefix = {"iri": "<", "blanknode": "_:", "literal": '"'}.get(tm.termtype, "")
    return prefix + tm.invariant


def _prefix_compatible(a: str, b: str) -> bool:
    return a.startswith(b) or b.startswith(a)


def may_collide(r1: M.Rule, r2: M.Rule) -> bool:
    """True unless some position's invariants prove disjointness."""
    for i1, i2 in zip(_invariants(r1), _invariants(r2)):
        if not _prefix_compatible(i1, i2):
            return False
    return True


def assign_mapping_partitions_cc(rules: list[M.Rule]) -> list[M.Rule]:
    """Label rules with connected-component partition ids (union-find)."""
    n = len(rules)
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    for i in range(n):
        for j in range(i + 1, n):
            if may_collide(rules[i], rules[j]):
                union(i, j)

    labels: dict[int, str] = {}
    out: list[M.Rule] = []
    for i, r in enumerate(rules):
        root = find(i)
        labels.setdefault(root, f"g{len(labels)}")
        out.append(r.but(mapping_partition=labels[root]))
    return out


# ---------------------------------------------------------------------------
# MAXIMAL partitioning (reference mapping_partitioner.py:36-141, 186-228)
# ---------------------------------------------------------------------------

_AUX = "\x00__no_previous_invariant__"


class _PositionFacts:
    """Per-rule invariants/termtypes the greedy refinement consults."""

    __slots__ = ("s_inv", "s_bnode", "p_inv", "o_inv", "o_termtype",
                 "literal_type", "g_inv")

    def __init__(self, rule: M.Rule, dynamic_literal_types: bool):
        if rule.gather is not None:
            # bnode/list machinery triples — no invariant, collide broadly
            self.s_inv = ""
            self.s_bnode = True
            self.o_inv, self.o_termtype, self.literal_type = "", "mixed", ""
        else:
            self.s_bnode = (rule.quoted_subject is None
                            and rule.subject.termtype == M.BLANK_NODE)
            self.s_inv = ("<< " + rule.quoted_subject.subject.invariant
                          if rule.quoted_subject is not None
                          else rule.subject.invariant)
            if rule.quoted_object is not None:
                self.o_inv = "<< " + rule.quoted_object.subject.invariant
                self.o_termtype = M.IRI
            elif rule.parent_subject is not None:
                self.o_inv = rule.parent_subject.invariant
                self.o_termtype = rule.parent_subject.termtype
            else:
                self.o_inv = rule.object.invariant if rule.object else ""
                self.o_termtype = rule.object.termtype if rule.object else ""
            # literal type: language/datatype value when constant; the map
            # KIND when any rule has a dynamic lang/dt map
            # (reference _generate_maximal_partition:186-193)
            lt_map = rule.language or rule.datatype
            if lt_map is None:
                self.literal_type = ""
            elif dynamic_literal_types:
                self.literal_type = "language" if rule.language else "datatype"
            else:
                self.literal_type = lt_map.value
        self.p_inv = rule.predicate.invariant
        self.g_inv = rule.graph.invariant if rule.graph is not None else ""


def _refine_for_ordering(facts: list[_PositionFacts], ordering: tuple,
                         all_pred_const: bool, all_graph_const: bool) -> list[str]:
    """One greedy refinement pass per position, in the given ordering
    (reference _generate_maximal_partition_for_a_position_ordering)."""
    groups = [""] * len(facts)
    for position in ordering:
        if position == "S":
            key = lambda i: (groups[i], facts[i].s_inv)  # noqa: E731
            order = sorted(range(len(facts)), key=key)
            cur_global, cur_group, cur_inv = None, 0, _AUX
            for i in order:
                if groups[i] != cur_global:
                    cur_global, cur_group, cur_inv = groups[i], 0, _AUX
                if facts[i].s_bnode:
                    groups[i] += "-0"
                elif facts[i].s_inv.startswith(cur_inv):
                    groups[i] += f"-{cur_group}"
                else:
                    cur_group += 1
                    cur_inv = facts[i].s_inv
                    groups[i] += f"-{cur_group}"
        elif position in ("P", "G"):
            inv = (lambda f: f.p_inv) if position == "P" else (lambda f: f.g_inv)
            exact = all_pred_const if position == "P" else all_graph_const
            key = lambda i: (groups[i], inv(facts[i]))  # noqa: E731
            order = sorted(range(len(facts)), key=key)
            cur_global, cur_group, cur_inv = None, 0, _AUX
            for i in order:
                if groups[i] != cur_global:
                    cur_global, cur_group, cur_inv = groups[i], 0, _AUX
                same = (inv(facts[i]) == cur_inv if exact
                        else inv(facts[i]).startswith(cur_inv))
                if same:
                    groups[i] += f"-{cur_group}"
                else:
                    cur_group += 1
                    cur_inv = inv(facts[i])
                    groups[i] += f"-{cur_group}"
        else:  # O
            key = lambda i: (groups[i], facts[i].o_termtype,  # noqa: E731
                             facts[i].literal_type, facts[i].o_inv)
            order = sorted(range(len(facts)), key=key)
            cur_global, cur_group, cur_inv = None, 0, _AUX
            cur_lt = _AUX
            for i in order:
                if groups[i] != cur_global:
                    cur_global, cur_group, cur_inv = groups[i], 0, _AUX
                f = facts[i]
                if f.o_termtype == M.BLANK_NODE or f.o_termtype == "mixed":
                    groups[i] += "-0"
                elif f.o_termtype == M.LITERAL:
                    if f.literal_type != cur_lt:
                        cur_group += 1
                        cur_lt = f.literal_type
                    groups[i] += f"-{cur_group}"
                elif f.o_inv.startswith(cur_inv):
                    groups[i] += f"-{cur_group}"
                else:
                    cur_group += 1
                    cur_inv = f.o_inv
                    groups[i] += f"-{cur_group}"
    return groups


def assign_mapping_partitions_maximal(rules: list[M.Rule]) -> list[M.Rule]:
    """Reference MAXIMAL: best of all 24 (S,P,O,G) refinement orderings."""
    if not rules:
        return []
    dynamic_lt = any(
        (r.language is not None and r.language.kind != M.CONSTANT)
        or (r.datatype is not None and r.datatype.kind != M.CONSTANT)
        for r in rules)
    facts = [_PositionFacts(r, dynamic_lt) for r in rules]
    all_pred_const = all(r.predicate.kind == M.CONSTANT for r in rules)
    all_graph_const = all(r.graph is None or r.graph.kind == M.CONSTANT
                          for r in rules)

    best, best_n = None, -1
    for ordering in permutations("SPOG"):
        groups = _refine_for_ordering(facts, ordering,
                                      all_pred_const, all_graph_const)
        n = len(set(groups))
        if n > best_n:
            best, best_n = groups, n
    return [r.but(mapping_partition=g.lstrip("-"))
            for r, g in zip(rules, best)]


def assign_mapping_partitions(rules: list[M.Rule],
                              method: str = "maximal") -> list[M.Rule]:
    if method == "maximal":
        return assign_mapping_partitions_maximal(rules)
    if method == "cc":
        return assign_mapping_partitions_cc(rules)
    raise ValueError(f"unknown partitioning method {method!r}")
