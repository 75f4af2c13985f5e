"""Compiler + evaluator for the coreference-rule constraint mini-language.

This mini-language (documented in the reference's coref_rules.tab contract,
reference xrenner/modules/xrenner_rule.py:3-217) is the *query language* of
the rule engine: every rule is
``ana_spec;ante_spec;max_sent_distance;propagation[;clf[;thresh]]`` where
each spec is an ``&``-joined list of constraints:

* ``key="literal"`` / ``key=/regex/`` / ``key=value``  — property tests
  (regexes that only add anchors are specialized to exact / startswith /
  endswith string ops at compile time);
* ``key!=...``                                        — negation;
* ``key=$1``                                          — anaphor-relative
  tests (``head=$1``, ``child=$1``, ``hasa=$1``, ``mod=$1``, plus any
  plain property compared against the anaphor's value);
* ``sameparent`` / ``samespeaker`` / ``samesentence`` (optionally ``!``);
* ``last[agree]``                                     — most recent
  markable of an agreement class carries the same entity;
* ``has_child_func=x``                                — dependency child
  function membership;
* trailing ``*``                                      — on failure,
  blacklist the anaphor's group for this candidate (and vice versa);
* directives ``none|anytext|anyagree|anycardinality|anyentity|lookahead|
  takefirst``                                         — match-anything
  markers interpreted by the antecedent search.

Rules are compiled once on the driver and shipped inside the broadcast
LexModel; evaluation happens inside the per-document kernel.
"""

from __future__ import annotations

import re
from typing import List, Optional


class CorefRule:
    """One compiled line of coref_rules.tab."""

    def __init__(self, rule_string: str, rule_num: int, thresh: Optional[float] = None):
        if not 3 <= rule_string.count(";") <= 5:
            raise ValueError("coref rule needs 3-5 semicolons: " + rule_string)
        parts = rule_string.split(";")
        self.ana_spec, self.ante_spec = parts[0], parts[1]
        self.max_distance = int(parts[2])
        self.propagation = parts[3]
        self.clf_name = parts[4] if len(parts) > 4 else "_default_"
        self.thresh = float(parts[5]) if len(parts) == 6 else thresh
        # resolved at model load: True iff this rule names a classifier
        # AND the model enables use_classifiers (precomputed so the
        # per-anaphor hot path needn't consult the filter dict)
        self.use_clf = False
        self.ana_constraints = [Constraint(c) for c in self.ana_spec.split("&")]
        self.ante_constraints = [Constraint(c) for c in self.ante_spec.split("&")]
        # evaluate group-blacklisting constraints first so their side
        # effects fire even when a later constraint would short-circuit
        self.ante_constraints.sort(key=lambda c: c.group_failure, reverse=True)
        self.rule_num = rule_num
        # directive flags the antecedent search consults per candidate —
        # resolved once here instead of substring-searching ante_spec in
        # the scan loop (semantically identical to `"x" in ante_spec`)
        spec = self.ante_spec
        self.lookahead = "lookahead" in spec
        self.anytext = "anytext" in spec
        self.anyagree = "anyagree" in spec
        self.anycardinality = "anycardinality" in spec
        self.anyentity = "anyentity" in spec
        self.takefirst = "takefirst" in spec
        # whole-rule codegen: one generated function per constraint list
        # (rule-engine analogue of whole-stage codegen — the constraint
        # dispatch chain runs per candidate in the antecedent scan)
        self.ana_matcher = compile_constraints(self.ana_constraints)
        self.ante_matcher = compile_constraints(self.ante_constraints)

    def __getstate__(self):
        # generated functions don't pickle; rules ship inside the
        # broadcast LexModel, so drop them and recompile on arrival
        state = self.__dict__.copy()
        state.pop("ana_matcher", None)
        state.pop("ante_matcher", None)
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self.ana_matcher = compile_constraints(self.ana_constraints)
        self.ante_matcher = compile_constraints(self.ante_constraints)

    def __repr__(self):  # pragma: no cover
        return f"{self.ana_spec} -> {self.ante_spec} ({self.max_distance}, {self.propagation})"


#: markable properties addressable from a constraint
PROPS = frozenset({"form", "text", "agree", "entity", "subclass", "cardinality",
                   "text_lower", "lemma", "pos", "func", "quoted", "mood",
                   "speaker", "sentence"})

_EXACT, _STARTS, _ENDS, _REGEX, _BOOL, _DOLLAR, _SUBSTR, _ANY = (
    "exact", "startswith", "endswith", "regex", "bool", "dollar", "substring", "any")


def _negate(v) -> bool:
    return not v


class Constraint:
    """One compiled constraint; ``check(mark, lex, doc, anaphor)`` evaluates it."""

    def __init__(self, spec: str):
        self.group_failure = spec.endswith("*")
        if self.group_failure:
            spec = spec[:-1]
        self.negated = False
        self.key = ""
        self.value = ""
        self.kind = _EXACT
        self.pattern = None

        if "=" in spec:
            key, value = spec.split("=", 1)
            if key.endswith("!"):
                self.negated = True
                key = key[:-1]
            self.key = key
            if value.startswith('"') and value.endswith('"'):
                self.value = value[1:-1]
            elif value.startswith("/") and value.endswith("/"):
                self._compile_regex(value[1:-1])
            elif value.lower() == "true":
                self.kind, self.value = _BOOL, True
            elif value.lower() == "false":
                self.kind, self.value = _BOOL, False
            elif value.startswith("$"):
                self.kind, self.value = _DOLLAR, value
            else:
                self.value = value
            if self.key == "has_child_func" and self.kind != _DOLLAR:
                # $-identity on has_child_func raises in the reference
                # (xrenner_rule.py:157), so only literal values coerce
                # to the ;-wrapped substring test
                self.kind = _SUBSTR
                if not str(self.value).startswith(";"):
                    self.value = ";" + str(self.value) + ";"
        elif spec == "none" or spec.startswith(("any", "look", "take")):
            self.kind = _ANY
        elif "sameparent" in spec or "samespeaker" in spec or "samesentence" in spec:
            self.negated = spec.startswith("!")
            self.kind, self.value = _DOLLAR, "$1"
            self.key = ("parent" if "parent" in spec
                        else "speaker" if "speaker" in spec else "sentence")
        elif spec.startswith("last["):
            self.key = "LAST"
            self.value = spec[spec.find("[") + 1:-1]
        # negation applicator, fixed at compile time (check() used to
        # allocate a fresh lambda per evaluation)
        self._op = _negate if self.negated else bool

    def _compile_regex(self, value: str):
        """Specialize anchor-only regexes into plain string predicates
        (reference xrenner_rule.py:56-73)."""
        if re.escape(value) == value:
            self.kind, self.value = _EXACT, value
        elif value.startswith("^") and value.endswith("$") and re.escape(value[1:-1]) == value[1:-1]:
            self.kind, self.value = _EXACT, value[1:-1]
        elif value.startswith("^") and re.escape(value[1:]) == value[1:]:
            self.kind, self.value = _STARTS, value[1:]
        elif value.endswith("$") and re.escape(value[:-1]) == value[:-1]:
            self.kind, self.value = _ENDS, value[:-1]
        else:
            self.kind = _REGEX
            self.value = value
            self.pattern = re.compile(value)

    def __repr__(self):  # pragma: no cover
        neg = "!" if self.negated else ""
        return f"{self.key} {neg}{self.kind} {self.value!r}"

    # ------------------------------------------------------------------
    def check(self, mark, lex, doc, anaphor=None) -> bool:
        """Evaluate against ``mark`` (with ``anaphor`` for $-relative tests).

        ``doc`` carries document-scoped state: the dynamic hasa overlay and
        the per-agreement-class ``last`` register.
        """
        result = self._eval(mark, lex, doc, anaphor, self._op)
        if result is False and self.group_failure and anaphor is not None:
            mark.non_antecdent_groups.add(anaphor.group)
        return result

    def _eval(self, mark, lex, doc, anaphor, op) -> bool:
        kind, key = self.kind, self.key

        if kind == _ANY:
            return True

        if kind == _DOLLAR:
            if key in PROPS:
                want = str(mark_prop(anaphor, key))
                have = str(mark_prop(mark, key))
                return op(have == want)
            if key == "head":
                return op(anaphor.head.tid == mark.head.head)
            if key == "child":
                return op(anaphor.head.head == mark.head.tid)
            if key == "hasa":
                return op(anaphor.head.head_text in doc.hasa_possessed(mark.head.lemma))
            if key == "parent":
                if mark.head.head == 0 or mark.sentence.sent_num != anaphor.sentence.sent_num:
                    result = op(False)
                else:
                    result = op(anaphor.head.head == mark.head.head)
                if result is False and self.group_failure and anaphor is not None:
                    mark.non_antecdent_groups.add(anaphor.group)
                    anaphor.non_antecdent_groups.add(mark.group)
                return result
            if key == "mod":
                anaphor_mods = anaphor.head.modifiers
                det_re = lex.filters["det_func"]
                for mod1 in mark.head.modifiers:
                    for mod2 in anaphor_mods:
                        if (mod1.lemma == mod2.lemma
                                and det_re.match(mod1.func) is None
                                and det_re.match(mod2.func) is None):
                            return True
                if self.group_failure and anaphor is not None:
                    mark.non_antecdent_groups.add(anaphor.group)
                return False
            if key == "has_child_func":
                # reference xrenner_rule.py:157 raises on $-identity here
                raise ValueError(
                    "coref rule 'has_child_func=$': not implemented")
            # any other $-key: the reference's match() falls through all
            # branches with test_val="" and compares it to the raw "$n"
            # string — an always-op(False) constraint, NOT an error
            # (xrenner_rule.py:126-165 quirk, mirrored)
            return op("" == str(self.value))

        if key == "LAST":
            last_mark = doc.last.get(self.value)
            if last_mark is None:
                return False
            return op(last_mark.entity == mark.entity)

        if key == "mod":
            det_re = lex.filters["det_func"]
            for mod1 in mark.head.modifiers:
                if mod1.lemma == self.value and det_re.match(mod1.func) is None:
                    return True
            if self.group_failure and anaphor is not None:
                mark.non_antecdent_groups.add(anaphor.group)
            return False

        if key in PROPS or key == "has_child_func":
            if key == "has_child_func":
                test_val = mark.child_func_string
            elif kind == _BOOL:
                test_val = mark_prop(mark, key)
            else:
                test_val = str(mark_prop(mark, key))
        elif key in ("head", "child"):
            # the reference raises on literal-value head/child tests
            # (xrenner_rule.py:196-199)
            raise ValueError(
                "coref rule '%s=VAL': value match not implemented" % key)
        else:
            # unknown keys (and the bare-word constraint, key="") fall
            # through the reference's match() with test_val="" — a bare
            # unknown word is an always-TRUE constraint ("" == ""), an
            # unknown key=value is always-False before negation
            # (xrenner_rule.py:126-213 quirk, mirrored; group-failure
            # side effects still apply via check())
            test_val = ""

        if kind == _EXACT:
            return op(test_val == self.value)
        if kind == _SUBSTR:
            return op(self.value in test_val)
        if kind == _REGEX:
            return op(self.pattern.search(test_val) is not None)
        if kind == _STARTS:
            return op(test_val.startswith(self.value))
        if kind == _ENDS:
            return op(test_val.endswith(self.value))
        if kind == _BOOL:
            return op(test_val == self.value)
        return op(False)


def sentence_repr(sentence) -> str:
    """The reference's Sentence.__repr__ (xrenner_classes.py:299-302) —
    the string a ``sentence=...`` constraint tests against.  ``$1``
    equality only needs an injective id, but literal/regex constraints
    can match mood/speaker/type inside this string, so the format is
    mirrored byte-for-byte."""
    mood = "(no mood info)" if sentence.mood == "" else sentence.mood
    speaker = ("(no speaker info)" if sentence.speaker == ""
               else sentence.speaker)
    return ("S" + str(sentence.sent_num) + " from T"
            + str(sentence.start_offset + 1) + ", mood: " + mood
            + ", speaker: " + speaker + ", type: " + sentence.s_type)


def mark_prop(mark, key: str):
    """Resolve a constraint property on a markable; head-token and sentence
    attributes are delegated the way the reference's Markable.__getattr__
    does (xrenner_classes.py:266-287)."""
    if key == "sentence":
        return sentence_repr(mark.sentence)
    if key in ("mood", "speaker"):
        return getattr(mark.sentence, key)
    if key in ("lemma", "pos", "func", "quoted"):
        return getattr(mark.head, key)
    if key == "text_lower":
        return mark.core_text.lower() if mark.coordinate else mark.head.text_lower
    return getattr(mark, key)


# ----------------------------------------------------------------------
# whole-rule codegen
# ----------------------------------------------------------------------

#: inlinable property accessors: key -> (expression, is_always_str).
#: Mirrors mark_prop exactly; non-str-guaranteed values get a str() wrap
#: to match _eval's ``str(mark_prop(...))``.
_PROP_EXPR = {
    "form": ("mark.form", True),
    "text": ("mark.text", True),
    "entity": ("mark.entity", True),
    "subclass": ("mark.subclass", True),
    "agree": ("mark.agree", False),          # may be None -> "None"
    "cardinality": ("mark.cardinality", False),
    "lemma": ("mark.head.lemma", True),
    "pos": ("mark.head.pos", True),
    "func": ("mark.head.func", True),
    "quoted": ("mark.head.quoted", False),
    "mood": ("mark.sentence.mood", True),
    "speaker": ("mark.sentence.speaker", True),
    "sentence": ("sentence_repr(mark.sentence)", True),
    "text_lower": ("(mark.core_text.lower() if mark.coordinate"
                   " else mark.head.text_lower)", True),
}


def compile_constraints(constraints: List[Constraint]):
    """Compile a constraint list into ONE generated function
    ``fn(mark, lex, doc, anaphor) -> bool`` that holds when every
    constraint's ``check`` holds (reference xrenner_coref.py:166-179) —
    same evaluation order, same short-circuiting, same group-failure side
    effects.

    Simple property tests (the overwhelming majority of shipped rules)
    inline to direct attribute comparisons; anything stateful
    ($-relative, last[], mod, has_child_func) falls back to the
    constraint's own ``check`` so semantics are byte-identical by
    construction.  Compiled once per rule at model load / unpickle;
    evaluated once per (rule, candidate) in the antecedent scan — the
    kernel's hottest inner loop."""
    ns = {"sentence_repr": sentence_repr}
    lines = ["def _matcher(mark, lex, doc, anaphor):"]
    for i, c in enumerate(constraints):
        kind = c.kind
        if kind == _ANY:
            continue
        expr = None
        if c.key in _PROP_EXPR and kind in (_EXACT, _STARTS, _ENDS,
                                            _REGEX, _BOOL):
            acc, always_str = _PROP_EXPR[c.key]
            if kind == _BOOL:
                expr = "%s == %r" % (acc, c.value)
            else:
                test = acc if always_str else "str(%s)" % acc
                if kind == _EXACT:
                    expr = "%s == %r" % (test, c.value)
                elif kind == _STARTS:
                    expr = "%s.startswith(%r)" % (test, c.value)
                elif kind == _ENDS:
                    expr = "%s.endswith(%r)" % (test, c.value)
                else:  # _REGEX
                    ns["_p%d" % i] = c.pattern
                    expr = "_p%d.search(%s) is not None" % (i, test)
            if c.negated:
                expr = "not (%s)" % expr
        if expr is not None:
            lines.append("    if not (%s):" % expr)
            if c.group_failure:
                lines.append("        if anaphor is not None:")
                lines.append("            mark.non_antecdent_groups"
                             ".add(anaphor.group)")
            lines.append("        return False")
        else:
            ns["_c%d" % i] = c
            lines.append("    if not _c%d.check(mark, lex, doc, anaphor):"
                         % i)
            lines.append("        return False")
    lines.append("    return True")
    exec(compile("\n".join(lines), "<coref-rule>", "exec"), ns)
    return ns["_matcher"]
