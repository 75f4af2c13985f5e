"""Antecedent search: the ordered rule cascade over previous markables.

Semantics follow the reference's coref module (reference
xrenner/modules/xrenner_coref.py:13-163): for each anaphor, the first rule
whose anaphor constraints match runs a backwards scan (forwards for
``lookahead``) bounded by the rule's sentence distance, filtering through
the match ladder; the candidate set is pruned and the best candidate wins.
"""

from __future__ import annotations

import re
from typing import Optional, Tuple

from .classes import DocState, Markable
from .compat import (acronym_match, agree_compatible, best_candidate,
                     cardinality_compatible, entities_compatible,
                     group_agree_compatible, isa, merge_entities,
                     modifiers_compatible, propagate_entity, speaker_compatible)
from .mentions import markables_overlap


def find_antecedent(markable: Markable, doc: DocState, lex,
                    restrict_rule: str = "") -> Tuple[Optional[Markable], Optional[str]]:
    """(reference xrenner_coref.py:13-38)"""
    candidate = None
    propagation = None
    for rule in doc.coref_rules:
        if restrict_rule == "" or restrict_rule in rule.ana_spec:
            if rule.ana_matcher(markable, lex, doc, None):
                candidate = search_prev_markables(markable, doc, lex, rule)
                if candidate is not None:
                    propagation = rule.propagation
                    break
    return candidate, propagation


def search_prev_markables(markable: Markable, doc: DocState, lex, rule) -> Optional[Markable]:
    """(reference xrenner_coref.py:41-163)"""
    f = lex.filters
    previous_markables = doc.markables
    max_dist = rule.max_distance
    lookahead = rule.lookahead
    anytext, anyagree = rule.anytext, rule.anyagree
    anycardinality, anyentity = rule.anycardinality, rule.anyentity

    # anaphor-side invariants of the scan, resolved once
    m_sent_num = markable.sentence.sent_num
    m_head_tid = markable.head.tid
    m_head_text = markable.head.text
    m_head_lemma = markable.head.lemma
    m_text = markable.text
    m_core_text = markable.core_text
    m_entity = markable.entity
    is_pronoun = markable.form == "pronoun"
    non_ante_groups = markable.non_antecdent_groups
    ante_matcher = rule.ante_matcher
    no_overlap = f["no_overlap"]
    lemma_match_pos = f["lemma_match_pos"]
    coref_table = lex.coref

    candidates = []  # insertion-ordered candidate set

    def add(cand):
        if cand not in candidates:
            candidates.append(cand)

    # the scan bound and the markable-side attribute chains are loop
    # invariants; candidate-side chains are localized once per iteration
    # (r6 — pure renames, the ladder itself is untouched)
    min_snum = m_sent_num - max_dist
    scan = previous_markables if lookahead else reversed(previous_markables)
    for candidate in scan:
        if candidate.sentence.sent_num >= min_snum:
            c_head = candidate.head
            direction_ok = ((m_head_tid > c_head.tid and not lookahead)
                            or (m_head_tid < c_head.tid and lookahead))
            if not direction_ok:
                continue
            if candidate.group in non_ante_groups:
                continue
            if not ante_matcher(candidate, lex, doc, markable):
                continue
            if not no_overlap or not markables_overlap(markable, candidate, lex):
                c_text = candidate.text
                if is_pronoun:
                    if agree_compatible(markable, candidate, lex) or \
                            (anyagree
                             and group_agree_compatible(markable, candidate, previous_markables, lex)):
                        if entities_compatible(markable, candidate, lex) and \
                                cardinality_compatible(markable, candidate):
                            if speaker_compatible(markable, candidate, previous_markables):
                                add(candidate)
                elif m_text == c_text or \
                        (len(m_text) > 4 and c_text.lower() == m_text.lower()):
                    add(candidate)
                elif m_text + "|" + c_text in coref_table and \
                        entities_compatible(markable, candidate, lex) and \
                        agree_compatible(markable, candidate, lex):
                    add(candidate)
                elif m_core_text + "|" + candidate.core_text in coref_table and \
                        entities_compatible(markable, candidate, lex) and \
                        agree_compatible(markable, candidate, lex):
                    add(candidate)
                elif m_entity == candidate.entity and \
                        agree_compatible(markable, candidate, lex) and \
                        (m_head_text == c_head.text
                         or (len(m_head_text) > 3
                             and c_head.text.lower() == m_head_text.lower())
                         or (m_core_text.count(" ") > 2
                             and m_core_text.lower() == candidate.core_text.lower())
                         or (m_head_lemma == c_head.lemma
                             and lemma_match_pos.match(markable.head.pos) is not None
                             and lemma_match_pos.match(c_head.pos) is not None)):
                    if modifiers_compatible(markable, candidate, lex, doc) and \
                            modifiers_compatible(candidate, markable, lex, doc):
                        add(candidate)
                elif (m_entity == candidate.entity
                      or len(set(markable.alt_entities) & set(candidate.alt_entities)) > 0) \
                        and isa(markable, candidate, lex, doc):
                    candidate.isa = True
                    add(candidate)
                elif agree_compatible(markable, candidate, lex) and \
                        (m_head_text == c_head.text
                         or (m_head_lemma == c_head.lemma
                             and lemma_match_pos.match(markable.head.pos) is not None
                             and lemma_match_pos.match(c_head.pos) is not None)):
                    if merge_entities(markable, candidate, previous_markables, lex, doc):
                        add(candidate)
                elif entities_compatible(markable, candidate, lex) and \
                        isa(markable, candidate, lex, doc):
                    if merge_entities(markable, candidate, previous_markables, lex, doc):
                        candidate.isa = True
                        add(candidate)
            elif (f["match_acronyms"] and m_head_text.isupper()) \
                    or c_head.text.isupper():
                if acronym_match(markable, candidate, lex) or \
                        acronym_match(candidate, markable, lex):
                    if modifiers_compatible(markable, candidate, lex, doc) and \
                            modifiers_compatible(candidate, markable, lex, doc):
                        if merge_entities(markable, candidate, previous_markables, lex, doc):
                            add(candidate)
            # catch-all directive; note it is not gated by the overlap check
            if anytext:
                if (anyagree
                        and group_agree_compatible(markable, candidate, previous_markables, lex)) \
                        or agree_compatible(markable, candidate, lex):
                    if anycardinality or \
                            cardinality_compatible(markable, candidate):
                        if anyentity or \
                                entities_compatible(markable, candidate, lex):
                            add(candidate)
        elif not lookahead:
            break  # beyond max_dist, stop scanning backwards

    if not candidates:
        return None

    # prune by agreement->entity mapping and person/no_person_agree clashes
    # (reference xrenner_coref.py:124-137)
    person = f["person_def_entity"]
    agree_entity_items = f["agree_entity_mapping"].items()
    to_remove = []
    last_pruned_iter = None
    for cand in candidates:
        last_pruned_iter = cand
        for agree, ent in agree_entity_items:
            if markable.agree == agree and cand.entity != ent:
                to_remove.append(cand)
        if cand.entity == person and (cand.form != "pronoun"
                                      or markable.entity_certainty == "certain") \
                and f["no_person_agree"].match(markable.agree or "") is not None:
            to_remove.append(cand)
        elif markable.entity == person and (markable.form != "pronoun"
                                            or markable.entity_certainty == "certain") \
                and f["no_person_agree"].match(cand.agree or "") is not None:
            to_remove.append(cand)
    candidates = [c for c in candidates if c not in to_remove]
    if not candidates:
        return None

    best = best_candidate(markable, candidates, lex, doc, rule,
                          take_first=rule.takefirst)
    if best is not None:
        if markable.text + "|" + best.text in lex.coref:
            markable.coref_type = lex.coref[markable.text + "|" + best.text]
            propagate_entity(markable, best, rule.propagation)
        elif markable.core_text + "|" + best.core_text in lex.coref:
            markable.coref_type = lex.coref[markable.core_text + "|" + best.core_text]
            # reference quirk kept: this branch propagates to the last
            # candidate iterated during pruning (xrenner_coref.py:148)
            propagate_entity(markable, last_pruned_iter)
        elif rule.propagation.startswith("propagate"):
            propagate_entity(markable, best, rule.propagation)
    if best is not None and best.isa:
        if best.isa_dir != "":
            if best.isa_dir == "markable":
                markable.isa_partner_head = best.head.lemma
            else:
                best.isa_partner_head = markable.head.lemma
            best.isa_dir = ""
        best.isa = False
    return best


_NO_ANTECEDENT_CACHE: dict = {}


def _compile_no_antecedent(setting: str):
    """Parse the no_antecedent mini-language once per setting string."""
    compiled = []
    for constraint in setting.split(";"):
        descs = []
        for token_description in constraint.split("&"):
            anchor = token_description[:1]
            if anchor not in ("^", "$", "@"):
                return None  # invalid description: prohibition never applies
            pos, word = token_description[1:].split("/")
            negative_pos = pos.startswith("!")
            if negative_pos:
                pos = pos[1:]
            negative_word = word.startswith("!")
            if negative_word:
                word = word[1:]
            descs.append((anchor, re.compile(pos), negative_pos,
                          re.compile(word), negative_word))
        compiled.append(descs)
    return compiled


def antecedent_prohibited(markable: Markable, doc: DocState, lex) -> bool:
    """no_antecedent pattern mini-language: ^initial / $final / @head token
    POS+text tests (reference xrenner_coref.py:182-230)."""
    setting = lex.filters["no_antecedent"]
    if not isinstance(setting, str) or "/" not in setting:
        return False
    if setting not in _NO_ANTECEDENT_CACHE:
        _NO_ANTECEDENT_CACHE[setting] = _compile_no_antecedent(setting)
    compiled = _NO_ANTECEDENT_CACHE[setting]
    if compiled is None:
        return False
    mismatch = True
    for descs in compiled:
        if not mismatch:
            return True
        mismatch = False
        for anchor, pos_re, negative_pos, word_re, negative_word in descs:
            if anchor == "^":
                test_token = doc.tokens[markable.start]
            elif anchor == "$":
                test_token = doc.tokens[markable.end]
            else:
                test_token = markable.head
            pos_hit = pos_re.match(test_token.pos) is not None
            word_hit = word_re.match(test_token.text) is not None
            if (not pos_hit and not negative_pos) or (pos_hit and negative_pos) or \
                    (not word_hit and not negative_word) or (word_hit and negative_word):
                mismatch = True
                break
    return not mismatch
