"""Satisfiability of rule-clause conjunctions over real-valued literals.

The reference compiles every check to z3 (``Real`` literals; atoms
``var op const`` with op in {=, !=, >, >=, <, <=}; one clause per rule —
``And(atoms)`` or ``Or(atoms)`` by connective — and tests ``unsat`` of
the conjunction of clauses (``src/CoAP_contradiction_checking.py:490-538``
and the five sibling checks). z3 is not available in this container, so
this module decides the same fragment exactly in pure Python:

- atoms constrain a SINGLE variable against a constant, so a conjunction
  of atoms decomposes per-variable into interval + equality +
  disequality feasibility over the reals;
- Or-clauses are handled by DPLL-style branching over their disjuncts
  (clause counts per check are tiny — one entity's rules).

This is decision-equivalent to the reference's z3 usage on its constraint
language (linear unary constraints), and deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass

Atom = tuple[str, str, float]  # (var, op, value)
Clause = tuple[str, list[Atom]]  # (connective "AND"|"OR", atoms)

_NEG_INF = float("-inf")
_POS_INF = float("inf")


@dataclass
class _Domain:
    lo: float = _NEG_INF
    lo_strict: bool = False
    hi: float = _POS_INF
    hi_strict: bool = False
    eq: float | None = None
    neq: frozenset[float] = frozenset()


def _units_feasible(units: list[Atom]) -> bool:
    """Is a conjunction of unary atoms satisfiable over the reals?"""
    doms: dict[str, _Domain] = {}
    neqs: dict[str, set[float]] = {}
    for var, op, val in units:
        d = doms.setdefault(var, _Domain())
        if op == "=":
            if d.eq is not None and d.eq != val:
                return False
            d.eq = val
        elif op == "!=":
            neqs.setdefault(var, set()).add(val)
        elif op == ">":
            if val > d.lo or (val == d.lo and not d.lo_strict):
                d.lo, d.lo_strict = val, True
        elif op == ">=":
            if val > d.lo:
                d.lo, d.lo_strict = val, False
        elif op == "<":
            if val < d.hi or (val == d.hi and not d.hi_strict):
                d.hi, d.hi_strict = val, True
        elif op == "<=":
            if val < d.hi:
                d.hi, d.hi_strict = val, False
        else:  # pragma: no cover - grammar never emits other ops
            raise ValueError(f"unknown op {op!r}")

    for var, d in doms.items():
        bad = neqs.get(var, set())
        if d.eq is not None:
            if d.eq in bad:
                return False
            if d.eq < d.lo or (d.eq == d.lo and d.lo_strict):
                return False
            if d.eq > d.hi or (d.eq == d.hi and d.hi_strict):
                return False
            continue
        if d.lo > d.hi:
            return False
        if d.lo == d.hi:
            if d.lo_strict or d.hi_strict:
                return False
            if d.lo in bad:  # interval is the single point lo
                return False
        # nondegenerate real interval minus finitely many points: nonempty
    for var in neqs:
        doms.setdefault(var, _Domain())  # unconstrained var with neq: fine
    return True


def check_sat(clauses: list[Clause], max_branches: int = 200_000) -> bool:
    """Satisfiability of And(clauses). Each clause is And- or Or-combined
    atoms. Branches over Or-clause disjuncts with early pruning; the
    branch cap guards pathological inputs (never hit by one entity's
    rules — reference groups are tens of clauses)."""
    units: list[Atom] = []
    ors: list[list[Atom]] = []
    for connective, atoms in clauses:
        if not atoms:
            continue
        if connective == "AND" or len(atoms) == 1:
            units.extend(atoms)
        else:
            ors.append(list(atoms))

    if not _units_feasible(units):
        return False
    if not ors:
        return True

    total = 1
    for disjuncts in ors:
        total *= len(disjuncts)
    if total > max_branches:
        # dropping clauses would weaken the formula and could report SAT
        # for an UNSAT system (silently missed contradictions). The cap
        # is unreachable for real rule groups (tens of clauses), so fail
        # loudly instead of guessing.
        raise ValueError(
            f"check_sat branch count {total} exceeds max_branches={max_branches}; "
            "refusing to weaken the formula (raise max_branches or split the group)"
        )

    def branch(i: int, acc: list[Atom]) -> bool:
        if i == len(ors):
            return True
        for atom in ors[i]:
            trial = acc + [atom]
            if _units_feasible(units + trial) and branch(i + 1, trial):
                return True
        return False

    return branch(0, [])
