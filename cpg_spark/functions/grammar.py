"""Context-free grammar machinery for the string-property chain:
SCC detection, recursion typing, Mohri-Nederhof regular approximation,
and regex synthesis for strongly regular grammars.

Pure Python on purpose: a hotspot's grammar is small (the reference
computes per-hotspot automata locally for the same reason), so this runs
inside a grouped-map pandas UDF — the parallelism unit is the hotspot,
not the production. The distributed side (building the productions table
from DFG slices) stays in DataFrame land (operators/stringapprox.py).

Reference parity:
  * SCC + Recursion typing — cpg-analysis helper/Components.kt:79-131
  * RegularApproximation (primed nonterminals A', per-production cases)
    — helper/approximations/RegularApproximation.kt:45-174
  * string OPERATION productions (replace/trim/toLowerCase/toUpperCase/
    repeat; unknown ops → Σ) — helper/operations/Operations.kt:37-106,
    Replace.kt, Trim.kt, ToUpperCase.kt, ToLowerCase.kt, Repeat.kt
  * CharSet + per-SCC fixpoint + operation-cycle breaking —
    helper/approximations/CharSet.kt, CharSetApproximation.kt:40-186
  * regex synthesis — GrammarToNFA.kt + NFA.toRegex state elimination;
    here done directly on the strongly regular grammar via per-SCC
    Arden/Gaussian elimination (mathematically the same elimination the
    NFA route performs, without materializing states).

Symbols:
  ("t", literal)            terminal (escaped into the regex)
  ("r", pattern, CharSet)   regex-valued terminal (NOT escaped; carries
                            its charset — the reference's
                            Terminal(isLiteral=false))
  ("n", nt_id)              nonterminal reference
  ("o", spec, nt_id)        operation applied to a nonterminal — the
                            OperationProduction's op(B); spec grammar:
                            "replace:<old>:<new>", "replace_old:<old>",
                            "replace_new:<new>", "replace_any", "trim",
                            "upper", "lower", "repeat", "repeat:<n>",
                            "reverse", anything else = unknown → Σ
Productions are tuples of 0..2 symbols (the reference's normal form:
epsilon/terminal, unit, concat, op).

The canonical chain (Grammar.approximateToRegularGrammar, Grammar.kt):
charset_approximation (breaks operation cycles) THEN
regular_approximation THEN grammar_to_regex.
"""

from __future__ import annotations

import re

T = "t"
R = "r"
N = "n"
OP = "o"

NONE, LEFT, RIGHT, BOTH = "none", "left", "right", "both"


# --- character sets (CharSet.kt analog) --------------------------------------


class CharSet:
    """Immutable character set: either a finite set {c1,...} or a
    complement Σ \\ {c1,...} (reference SetCharSet / SigmaCharSet,
    CharSet.kt:30-195). Union follows the reference's identities:
    (Σ\\A) ∪ (Σ\\B) = Σ\\(A∩B), (Σ\\A) ∪ B = Σ\\(A−B)."""

    __slots__ = ("sigma", "chars")

    def __init__(self, chars=(), sigma: bool = False) -> None:
        self.sigma = sigma  # True: chars = removed set; False: chars = members
        self.chars = frozenset(chars)

    @staticmethod
    def empty() -> "CharSet":
        return CharSet()

    @staticmethod
    def of(s) -> "CharSet":
        return CharSet(set(s))

    @staticmethod
    def anything() -> "CharSet":
        return CharSet(sigma=True)

    def __contains__(self, c: str) -> bool:
        return (c not in self.chars) if self.sigma else (c in self.chars)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CharSet)
            and self.sigma == other.sigma
            and self.chars == other.chars
        )

    def __hash__(self) -> int:
        return hash((self.sigma, self.chars))

    def union(self, other: "CharSet") -> "CharSet":
        if self.sigma and other.sigma:
            return CharSet(self.chars & other.chars, sigma=True)
        if self.sigma:
            return CharSet(self.chars - other.chars, sigma=True)
        if other.sigma:
            return CharSet(other.chars - self.chars, sigma=True)
        return CharSet(self.chars | other.chars)

    def add(self, c: str) -> "CharSet":
        if self.sigma:
            return CharSet(self.chars - {c}, sigma=True)
        return CharSet(self.chars | {c})

    def remove(self, c: str) -> "CharSet":
        if self.sigma:
            return CharSet(self.chars | {c}, sigma=True)
        return CharSet(self.chars - {c})

    def to_regex_pattern(self) -> str:
        """Regex for C* (reference toRegexPattern: '[chars]*' / '[^chars]*'
        / '.*'); chars sorted for determinism (the reference joins in JVM
        set order — unstable; a distributed engine needs bit-stable
        output)."""
        cls = "".join(_cc_escape(c) for c in sorted(self.chars))
        if self.sigma:
            return ".*" if not self.chars else f"[^{cls}]*"
        return "" if not self.chars else f"[{cls}]*"

    def __repr__(self) -> str:
        body = ",".join(sorted(self.chars))
        return f"Σ\\{{{body}}}" if self.sigma else f"{{{body}}}"


def _cc_escape(c: str) -> str:
    """Escape a single char for use inside a regex character class."""
    return "\\" + c if c in "\\]^-[" else c


# --- operations (Operations.kt / Replace.kt / Trim.kt / ... analogs) ---------

# reference priorities: ReplaceNoneKnown 5, ReplaceBothKnown 4,
# ReplaceOldKnown 3, ReplaceNewKnown 2, ToUpper/ToLowerCase 2, Trim 1,
# Repeat 1 (Replace.kt:35-160, Trim.kt:32, Repeat.kt:32)
OP_PRIORITY = {
    "replace_any": 5,
    "replace": 4,
    "replace_old": 3,
    "replace_new": 2,
    "upper": 2,
    "lower": 2,
    "trim": 1,
    "repeat": 1,
    "reverse": 1,
}


def _op_name(spec: str) -> str:
    return spec.split(":", 1)[0]


def op_priority(spec: str) -> int:
    return OP_PRIORITY.get(_op_name(spec), 0)


def op_charset(spec: str, cs: CharSet) -> CharSet:
    """charsetTransformation per operation (reference Replace.kt:44-159,
    Trim.kt:113, ToUpperCase/ToLowerCase.kt, Repeat.kt:42; unknown ops →
    Σ per Operation.charsetTransformation, Operations.kt:110)."""
    parts = spec.split(":")
    name = parts[0]
    if name == "replace" and len(parts) == 3:  # both chars known
        old, new = parts[1], parts[2]
        return cs.remove(old).add(new) if old in cs else cs
    if name == "replace_old" and len(parts) == 2:  # old known, new unknown
        return CharSet.anything() if parts[1] in cs else cs
    if name == "replace_new" and len(parts) == 2:  # new known, old unknown
        return cs.add(parts[1])
    if name == "replace_any":
        return CharSet.anything()
    if name in ("trim", "repeat", "reverse"):
        return cs
    if name == "upper":
        if cs.sigma:
            # reference: remove a..z too ("A to Z are the most common")
            return CharSet(cs.chars | set("abcdefghijklmnopqrstuvwxyz"), sigma=True)
        return CharSet({u for c in cs.chars for u in c.upper()})
    if name == "lower":
        if cs.sigma:
            return CharSet(cs.chars | set("ABCDEFGHIJKLMNOPQRSTUVWXYZ"), sigma=True)
        return CharSet({l for c in cs.chars for l in c.lower()})
    return CharSet.anything()  # unknown operation could add any character


def _case_map_regex(rx: str, upper: bool) -> str:
    """Case-map the alphabetic characters of a synthesized regex, leaving
    escape sequences alone (reference ToUpperCase/ToLowerCase
    regularApproximation upper/lowercases literal edges; metachars are
    case-invariant, and escape classes like \\d never occur in regexes
    this module synthesizes)."""
    out = []
    prev_backslash = False
    for ch in rx:
        if prev_backslash:
            out.append(ch)  # keep the escaped char verbatim
            prev_backslash = False
            continue
        if ch == "\\":
            out.append(ch)
            prev_backslash = True
            continue
        out.append(ch.upper() if upper else ch.lower())
    return "".join(out)


_POS_CLASS = re.compile(r"([^\\]|^)\[([^]^]*)\]")
_NEG_CLASS = re.compile(r"([^\\]|^)\[(\^[^]]*)\]")
_WILDCARD = re.compile(r"([^\\]|^)(\.)")


def _replace_regex(rx: str, old: str, new: str) -> str:
    """ReplaceBothKnown over a synthesized regex (reference
    Replace.kt:61-128 handleRegex): positive char classes swap old→new,
    negative classes gain old (and lose new unless both present),
    wildcards become [^old], and literal runs outside classes replace
    old→new. Like the reference, this assumes the regex was produced by
    this module (no ranges inside classes)."""
    eold, enew = _cc_escape(old), _cc_escape(new)

    def pos_sub(m: "re.Match[str]") -> str:
        before, content = m.group(1), m.group(2)
        content = content.replace(eold, enew).replace(old, enew)
        return f"{before}[{content}]"

    rx = _POS_CLASS.sub(pos_sub, rx)

    def neg_sub(m: "re.Match[str]") -> str:
        before, content = m.group(1), m.group(2)
        if not (new in content and old in content):
            content = content.replace(enew, "").replace(new, "")
        return f"{before}[{content}{eold}]"

    rx = _NEG_CLASS.sub(neg_sub, rx)
    rx = _WILDCARD.sub(lambda m: f"{m.group(1)}[^{eold}]", rx)

    # literal text outside classes: replace escaped/raw old outside [...]
    # and outside {m,n} quantifiers (repeat:n synthesizes those — their
    # digits are counts, not literals, and must never be rewritten)
    out, i, depth, in_quant = [], 0, 0, False
    while i < len(rx):
        ch = rx[i]
        if ch == "\\" and i + 1 < len(rx):
            nxt = rx[i + 1]
            if depth == 0 and not in_quant and nxt == old:
                out.append(re.escape(new))
            else:
                out.append(rx[i : i + 2])
            i += 2
            continue
        if ch == "[":
            depth += 1
        elif ch == "]" and depth:
            depth -= 1
        elif depth == 0 and ch == "{":
            in_quant = True
        elif depth == 0 and ch == "}":
            in_quant = False
        if (
            depth == 0
            and not in_quant
            and ch == old
            and ch not in "[]()|*+?.{}^$"
        ):
            out.append(re.escape(new))
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def op_regex(spec: str, inner: str | None, target_cs: CharSet) -> str | None:
    """The regex effect of applying operation `spec` to a language with
    regex `inner` (reference: per-operation NFA edge transformation,
    Replace.kt:61-128, ToUpperCase.kt, Trim.kt:37 — Trim's automaton
    transform is disabled upstream, so trim is identity there too).
    Operations without a regex-level transform in the reference
    (replace_old/replace_new/replace_any/reverse/unknown) fall back to
    the sound charset-star over-approximation
    op_charset(spec, charset(target))* — the same bound the reference's
    cycle-breaking uses."""
    if inner is None:
        return None
    parts = spec.split(":")
    name = parts[0]
    if name == "trim":
        return inner
    if name in ("upper", "lower"):
        # case-mapping a negative class or wildcard is NOT a per-char
        # map ([^A] lowered is not [^a]: 'a' ∈ L([^A]) but lower('a')
        # = 'a' ∉ L([^a])) — those constructs ARE synthesized here (the
        # replace wildcard rewrite and sigma charset-stars), so fall
        # back to the sound charset-star bound for them
        if re.search(r"(^|[^\\])\[\^", inner) or _WILDCARD.search(inner):
            return op_charset(spec, target_cs).to_regex_pattern()
        return _case_map_regex(inner, upper=(name == "upper"))
    if name == "replace" and len(parts) == 3:
        return _replace_regex(inner, parts[1], parts[2])
    if name == "repeat":
        if len(parts) == 2 and parts[1].isdigit():
            n = int(parts[1])
            return "" if n == 0 else f"{_grp(inner)}{{{n}}}" if inner else ""
        return f"{_grp(inner)}*" if inner else ""
    return op_charset(spec, target_cs).to_regex_pattern()


class Grammar:
    def __init__(self) -> None:
        self.prods: dict[int, list[tuple]] = {}
        self.labels: dict[int, str] = {}
        self._next = 0

    def add_nt(self, label: str | None = None) -> int:
        nt = self._next
        self._next += 1
        self.prods[nt] = []
        self.labels[nt] = label if label is not None else f"N{nt}"
        return nt

    def add_prod(self, nt: int, symbols: tuple) -> None:
        if len(symbols) > 2:
            raise ValueError(
                f"normal form: at most two symbols per production, got {len(symbols)}"
            )
        self.prods[nt].append(tuple(symbols))

    def nts(self) -> list[int]:
        return list(self.prods)

    def successors(self, nt: int) -> set[int]:
        out: set[int] = set()
        for p in self.prods[nt]:
            for s in p:
                if s[0] == N:
                    out.add(s[1])
                elif s[0] == OP:  # op(B) references B (Grammar.kt:88-93)
                    out.add(s[2])
        return out


def sccs(g: Grammar) -> list[list[int]]:
    """Kosaraju SCCs of the nonterminal graph, in REVERSE topological
    order (every successor component comes before its predecessors) —
    the evaluation order regex synthesis needs."""
    order: list[int] = []
    seen: set[int] = set()
    for s in g.nts():
        if s in seen:
            continue
        stack = [(s, iter(g.successors(s)))]
        seen.add(s)
        while stack:
            v, it = stack[-1]
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(g.successors(w))))
                    break
            else:
                order.append(v)
                stack.pop()
    radj: dict[int, list[int]] = {}
    for u in g.nts():
        for v in g.successors(u):
            radj.setdefault(v, []).append(u)
    comp: dict[int, int] = {}
    comps: list[list[int]] = []
    for s in reversed(order):
        if s in comp:
            continue
        members = [s]
        comp[s] = len(comps)
        stack2 = [s]
        while stack2:
            v = stack2.pop()
            for w in radj.get(v, ()):
                if w not in comp:
                    comp[w] = len(comps)
                    members.append(w)
                    stack2.append(w)
        comps.append(sorted(members))
    # Kosaraju emits components in topological order; reverse it
    return list(reversed(comps))


def recursion_kind(g: Grammar, comp: set[int]) -> str:
    """Components.kt determineRecursion: LEFT if an in-component NT is
    followed by anything inside a production, RIGHT if preceded; a
    component showing both patterns is BOTH and needs approximation."""
    left = right = False
    for a in comp:
        for p in g.prods[a]:
            if len(p) == 2:
                s1, s2 = p
                if s1[0] == N and s1[1] in comp:
                    left = True
                if s2[0] == N and s2[1] in comp:
                    right = True
    if left and right:
        return BOTH
    if left:
        return LEFT
    if right:
        return RIGHT
    return NONE


def _symbol_charset(sym: tuple, charsets: dict[int, CharSet]) -> CharSet:
    if sym[0] == T:
        return CharSet.of(sym[1])
    if sym[0] == R:
        return sym[2] if len(sym) > 2 else CharSet.anything()
    if sym[0] == OP:
        return op_charset(sym[1], charsets.get(sym[2], CharSet.empty()))
    return charsets.get(sym[1], CharSet.empty())  # N


def _find_charsets(
    g: Grammar, comp: list[int], charsets: dict[int, CharSet]
) -> None:
    """Per-component fixpoint (reference CharSetApproximation.findCharSets,
    CharSetApproximation.kt:137-152): update each member's charset from
    its productions until stable; successor components are already final
    because components are processed in reverse topological order."""
    cset = set(comp)
    worklist = sorted(cset)
    # in-component predecessors, to re-enqueue on change
    preds: dict[int, set[int]] = {a: set() for a in comp}
    for a in comp:
        for b in g.successors(a):
            if b in cset:
                preds[b].add(a)
    while worklist:
        nt = worklist.pop(0)
        cur = charsets.get(nt, CharSet.empty())
        new = cur
        for p in g.prods[nt]:
            for s in p:
                new = new.union(_symbol_charset(s, charsets))
        if new != cur:
            charsets[nt] = new
            for m in sorted(preds.get(nt, ())):
                if m not in worklist:
                    worklist.append(m)


def charset_approximation(g: Grammar) -> dict[int, CharSet]:
    """CharSetApproximation analog (reference CharSetApproximation.kt:
    40-117): compute each nonterminal's character-set bound by per-SCC
    fixpoint in reverse topological order, then break OPERATION CYCLES —
    an op production A -> op(B) with B in A's own SCC — by replacing the
    highest-priority in-cycle op production per component with the
    regex terminal (op.charsetTransformation(charset(B)))*, recomputing
    SCCs until no operation cycle remains. Mutates g; returns the
    charset map (computed over the ORIGINAL productions, like the
    reference, which finds charsets before breaking cycles).

    Divergence (documented): the reference early-returns and computes no
    charsets when there is no operation cycle; here the (cheap, small-
    grammar) fixpoint always runs so callers can expose charset bounds
    for every hotspot — a strict superset of the reference's output."""
    charsets: dict[int, CharSet] = {}
    for comp in sccs(g):
        _find_charsets(g, comp, charsets)
    while True:
        replaced = False
        for comp in sccs(g):
            cset = set(comp)
            in_cycle = [
                (a, i, p)
                for a in comp
                for i, p in enumerate(g.prods[a])
                if len(p) == 1 and p[0][0] == OP and p[0][2] in cset
            ]
            if not in_cycle:
                continue
            # replace the max-priority cycle per round (breakCycles,
            # CharSetApproximation.kt:68-104); ties broken by (nt, idx)
            # for determinism
            a, i, p = max(
                in_cycle, key=lambda x: (op_priority(x[2][0][1]), -x[0], -x[1])
            )
            spec, target = p[0][1], p[0][2]
            cs = op_charset(spec, charsets.get(target, CharSet.empty()))
            g.prods[a][i] = ((R, cs.to_regex_pattern(), cs),)
            replaced = True
        if not replaced:
            return charsets


def regular_approximation(g: Grammar, hotspots: set[int] | None = None) -> bool:
    """Mohri-Nederhof transformation in place: every BOTH-recursive
    component is rewritten with primed nonterminals so its recursion
    becomes purely right — the grammar's language becomes a regular
    over-approximation (superset) of the original. Returns True if any
    component was rewritten (False = grammar already strongly regular,
    identity — the reference's early return).

    Case table mirrors RegularApproximation.handleProduction:
      A -> B     (B in comp)  =>  A -> B,   B' -> A'
      A -> X     (X outside)  =>  A -> X A'
      A -> B C   (in,  in )   =>  A -> B,   B' -> C,     C' -> A'
      A -> B X   (in,  out)   =>  A -> B,   B' -> X A'
      A -> X B   (out, in )   =>  A -> X B, B' -> A'
      A -> X Y   (out, out)   =>  A -> R A',  R -> X Y
      A -> t | eps            =>  A -> R A',  R -> t | eps
    A' derives epsilon iff A is a hotspot/start or is entered from
    outside its component."""
    hotspots = set(hotspots or ())
    comps = sccs(g)
    kinds = [recursion_kind(g, set(c)) for c in comps]
    if BOTH not in kinds:
        return False

    comp_of: dict[int, int] = {}
    for i, c in enumerate(comps):
        for nt in c:
            comp_of[nt] = i

    need_eps: set[int] = set(hotspots)
    for nt in g.nts():
        for succ in g.successors(nt):
            if comp_of[nt] != comp_of[succ]:
                need_eps.add(succ)

    for ci, c in enumerate(comps):
        if kinds[ci] != BOTH:
            continue
        comp = set(c)
        old = {a: list(g.prods[a]) for a in c}
        primed: dict[int, int] = {}
        for a in c:
            g.prods[a] = []
            ap = g.add_nt(f"{g.labels[a]}'")
            primed[a] = ap
            if a in need_eps:
                g.add_prod(ap, ())
        for a in c:
            for p in old[a]:
                _mn_production(g, comp, primed, a, p)
    return True


def _in(sym: tuple, comp: set[int]) -> bool:
    return sym[0] == N and sym[1] in comp


def _mn_production(
    g: Grammar, comp: set[int], primed: dict[int, int], a: int, p: tuple
) -> None:
    ap = primed[a]
    if len(p) == 1 and p[0][0] == OP and p[0][2] in comp:
        raise ValueError(
            "operation cycle in grammar; run charset_approximation first"
        )
    if len(p) == 1 and _in(p[0], comp):
        b = p[0][1]
        g.add_prod(a, ((N, b),))
        g.add_prod(primed[b], ((N, ap),))
    elif len(p) == 1:
        g.add_prod(a, (p[0], (N, ap)))
    elif len(p) == 2:
        s1, s2 = p
        i1, i2 = _in(s1, comp), _in(s2, comp)
        if i1 and i2:
            b, c2 = s1[1], s2[1]
            g.add_prod(a, ((N, b),))
            g.add_prod(primed[b], ((N, c2),))
            g.add_prod(primed[c2], ((N, ap),))
        elif i1:
            b = s1[1]
            g.add_prod(a, ((N, b),))
            g.add_prod(primed[b], (s2, (N, ap)))
        elif i2:
            b = s2[1]
            g.add_prod(a, (s1, (N, b)))
            g.add_prod(primed[b], ((N, ap),))
        else:
            r = g.add_nt()
            g.add_prod(a, ((N, r), (N, ap)))
            g.add_prod(r, (s1, s2))
    else:  # epsilon
        r = g.add_nt()
        g.add_prod(a, ((N, r), (N, ap)))
        g.add_prod(r, ())


# --- regex synthesis for strongly regular grammars ---------------------------
#
# regex values: str (possibly "" = epsilon) or None = empty language.


def _alt(parts: list[str | None]) -> str | None:
    live = [p for p in parts if p is not None]
    if not live:
        return None
    uniq: list[str] = []
    for p in live:
        if p not in uniq:
            uniq.append(p)
    if "" in uniq:
        rest = [p for p in uniq if p]
        if not rest:
            return ""
        inner = rest[0] if len(rest) == 1 else "(?:" + "|".join(rest) + ")"
        return f"(?:{inner})?"
    if len(uniq) == 1:
        return uniq[0]
    return "(?:" + "|".join(uniq) + ")"


def _cat(a: str | None, b: str | None) -> str | None:
    if a is None or b is None:
        return None
    return a + b


def _star(a: str | None) -> str:
    if a is None or a == "":
        return ""
    return f"(?:{a})*"


def _needs_group(r: str) -> bool:
    return len(r) > 1 and not (
        r.startswith("(?:") and r.endswith(")") and _balanced(r)
    )


def _balanced(r: str) -> bool:
    depth = 0
    for i, ch in enumerate(r):
        if ch == "(" and (i == 0 or r[i - 1] != "\\"):
            depth += 1
        elif ch == ")" and r[i - 1] != "\\":
            depth -= 1
            if depth == 0 and i != len(r) - 1:
                return False
    return depth == 0


def _grp(r: str) -> str:
    return r if not _needs_group(r) else f"(?:{r})"


def grammar_to_regex(
    g: Grammar, start: int, charsets: dict[int, CharSet] | None = None
) -> str | None:
    """Regex per nonterminal for a STRONGLY REGULAR grammar (every SCC
    purely left- or right-linear — run regular_approximation first;
    operation cycles must already be broken — run charset_approximation
    first). Components are processed in reverse topological order; each
    linear component is solved as a system of regex equations by Gaussian
    elimination with Arden's lemma (X = rX + s => X = r*s for right
    recursion, X = Xr + s => X = sr* for left). Operation symbols op(B)
    always reference an earlier component (post-charset), so their
    effect applies to B's finished regex via op_regex. Returns the start
    NT's regex, or None if its language is empty."""
    r: dict[int, str | None] = {}
    charsets = charsets if charsets is not None else {}

    def sym_rx(sym: tuple) -> str | None:
        if sym[0] == T:
            return re.escape(sym[1])
        if sym[0] == R:  # raw regex terminal (safe atom by construction)
            return sym[1]
        if sym[0] == OP:
            inner = r.get(sym[2], None)
            return op_regex(
                sym[1], inner, charsets.get(sym[2], CharSet.empty())
            )
        return r.get(sym[1], None)

    for comp in sccs(g):
        cset = set(comp)
        kind = recursion_kind(g, cset)
        if kind == BOTH:
            raise ValueError("grammar is not strongly regular; approximate first")
        for a in comp:
            for p in g.prods[a]:
                for s in p:
                    if s[0] == OP and s[2] in cset:
                        raise ValueError(
                            "operation cycle in grammar; run "
                            "charset_approximation first"
                        )
        if kind == NONE and all(
            s[1] not in cset for a in comp for p in g.prods[a] for s in p if s[0] == N
        ):
            # trivial component: direct substitution
            for a in comp:
                parts: list[str | None] = []
                for p in g.prods[a]:
                    acc: str | None = ""
                    for s in p:
                        acc = _cat(acc, sym_rx(s))
                    parts.append(acc)
                r[a] = _alt(parts)
            continue
        # linear system over the component.
        # right-linear:  X_a = Σ coef[a][b]·X_b + const_a
        # left-linear :  X_a = Σ X_b·coef[a][b] + const_a
        right = kind != LEFT
        coef: dict[int, dict[int, list[str | None]]] = {a: {} for a in comp}
        const: dict[int, list[str | None]] = {a: [] for a in comp}
        for a in comp:
            for p in g.prods[a]:
                in_syms = [s for s in p if _in(s, cset)]
                if not in_syms:
                    acc: str | None = ""
                    for s in p:
                        acc = _cat(acc, sym_rx(s))
                    const[a].append(acc)
                    continue
                b = in_syms[0][1]
                out_syms = [s for s in p if not _in(s, cset)]
                acc = ""
                for s in out_syms:
                    acc = _cat(acc, sym_rx(s))
                coef[a].setdefault(b, []).append(acc)
        A = {a: {b: _alt(v) for b, v in coef[a].items()} for a in comp}
        K = {a: _alt(const[a]) for a in comp}
        order = list(comp)
        # forward elimination
        for i, x in enumerate(order):
            self_c = A[x].pop(x, None)
            if self_c is not None:
                st = _star(self_c)
                if right:
                    A[x] = {b: _cat(st, _grp(c) if c else c) for b, c in A[x].items()}
                    K[x] = _cat(st, _grp(K[x]) if K[x] else K[x])
                else:
                    A[x] = {b: _cat(_grp(c) if c else c, st) for b, c in A[x].items()}
                    K[x] = _cat(_grp(K[x]) if K[x] else K[x], st)
            for y in order[i + 1 :]:
                cxy = A[y].pop(x, None)
                if cxy is None:
                    continue
                for b, cxb in A[x].items():
                    term = _cat(cxy, cxb) if right else _cat(cxb, cxy)
                    A[y][b] = _alt([A[y].get(b), term])
                kterm = _cat(cxy, K[x]) if right else _cat(K[x], cxy)
                K[y] = _alt([K[y], kterm])
        # back substitution: after forward elimination, equation x only
        # references variables later in `order`, whose K is already final
        for i in range(len(order) - 1, -1, -1):
            x = order[i]
            for b, c in A[x].items():
                term = _cat(c, K[b]) if right else _cat(K[b], c)
                K[x] = _alt([K[x], term])
            r[x] = K[x]
    return r.get(start)
