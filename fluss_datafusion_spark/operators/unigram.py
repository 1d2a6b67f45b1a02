"""Unigram-LM subword tokenizer training (Kudo 2018, "Subword
Regularization" — the SentencePiece unigram model), completing the
tokenizer family next to BPE (operators/bpe.py).

Model: a vocabulary of pieces with log-probabilities; a word's
tokenization is the segmentation maximizing the sum of piece log-probs
(Viterbi).  Training alternates EM re-estimation with vocabulary
pruning until the target size.

Divergence from Kudo (documented, pinned by tests): we run HARD
(Viterbi) EM — counts come from each word's single best segmentation
rather than forward-backward expectations — and prune by lowest
re-estimated count instead of the exact loss-delta.  Both choices keep
every step deterministic (ties broken lexicographically), which is
what makes the pipeline testable against an independent reference
implementation and its output replayable.

Scale design (the BPE pattern, bpe.py:1-28):
- Training operates on the WORD-FREQUENCY DICTIONARY — one map-side-
  combined groupBy collapses the corpus; everything after is bounded
  by vocabulary growth laws, not corpus size.
- Seeding = one substring explode over the dictionary + one agg +
  top-k (freq DESC, piece ASC), plus all single characters for
  coverage.
- Each E-step is one Arrow-batched mapInPandas over the dictionary
  with the current vocab as a broadcast dict (model state, vocab-
  sized), emitting (piece, count) partials; the M-step is one
  map-side-combined sum whose result — vocab-sized, NOT corpus-sized —
  is collected to rebuild the broadcast.  The driver only ever holds
  the model.
- ``apply_unigram`` is a single shuffle-free mapInPandas pass.
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: unknown single characters score this far below the worst vocab piece
_UNK_PENALTY = 10.0


def viterbi_tokens(
    word: str, logp: Dict[str, float], max_len: int, unk_logp: float
) -> List[str]:
    """Best segmentation of ``word`` under piece log-probs: forward DP,
    best[i] = max over pieces ending at i.  Ties prefer the LONGER
    final piece (canonical SentencePiece behavior), then the
    lexicographically smaller one — fully deterministic."""
    n = len(word)
    best = [(-math.inf, 0)] * (n + 1)  # (score, start_of_last_piece)
    best[0] = (0.0, 0)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j > 1:
                    continue
                lp = unk_logp  # single-char fallback: total coverage
            score = best[j][0] + lp
            # strictly-better wins; equal score -> longer piece (smaller j)
            if score > best[i][0] or (
                score == best[i][0] and j < best[i][1]
            ):
                best[i] = (score, j)
    out = []
    i = n
    while i > 0:
        j = best[i][1]
        out.append(word[j:i])
        i = j
    return out[::-1]


def _word_dictionary(docs: DataFrame, text_col: str) -> DataFrame:
    from fluss_datafusion_spark.operators.bpe import _word_dictionary as wd

    return wd(docs, text_col)


def seed_vocab(
    word_dict: DataFrame, max_piece_len: int = 6, seed_size: int = 1000
) -> List[Tuple[str, int]]:
    """Candidate pieces: every substring of every word up to
    ``max_piece_len``, weighted by word frequency; top ``seed_size`` by
    (count DESC, piece ASC) UNION all single characters.  One explode +
    one agg + one TakeOrdered — the only corpus-shaped work in
    seeding."""
    subs = word_dict.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, length(__w__) - 1), s -> "
                f"transform(sequence(1, least({max_piece_len}, length(__w__) - s)), "
                "l -> substring(__w__, s + 1, l))))"
            )
        ).alias("__p__"),
        "__n__",
    )
    counts = subs.groupBy("__p__").agg(F.sum("__n__").alias("__c__"))
    chars = [
        (r["__p__"], int(r["__c__"]))
        for r in counts.filter(F.length("__p__") == 1).collect()
    ]
    multi = [
        (r["__p__"], int(r["__c__"]))
        for r in (
            counts.filter(F.length("__p__") > 1)
            .orderBy(F.col("__c__").desc(), F.col("__p__").asc())
            .limit(seed_size)
            .collect()
        )
    ]
    return sorted(chars + multi)


def _normalize(counts: List[Tuple[str, int]]) -> Dict[str, float]:
    total = float(sum(c for _, c in counts)) or 1.0
    return {p: math.log(c / total) for p, c in counts if c > 0}


def _estep_counts(
    word_dict: DataFrame, logp: Dict[str, float], max_len: int
) -> List[Tuple[str, int]]:
    """One hard-EM E-step: Viterbi-segment every dictionary word,
    emit per-piece counts weighted by word frequency.  The vocab rides
    to executors as a broadcast closure; the returned list is
    vocab-sized."""
    import pandas as pd

    unk = min(logp.values()) - _UNK_PENALTY

    def run(batches):
        for pdf in batches:
            tally: Dict[str, int] = {}
            for word, freq in zip(pdf["__w__"], pdf["__n__"]):
                for piece in viterbi_tokens(word, logp, max_len, unk):
                    tally[piece] = tally.get(piece, 0) + int(freq)
            if tally:
                yield pd.DataFrame(
                    {"__p__": list(tally), "__c__": list(tally.values())}
                )

    partials = word_dict.mapInPandas(run, "__p__ string, __c__ long")
    return [
        (r["__p__"], int(r["__c__"]))
        for r in partials.groupBy("__p__").agg(F.sum("__c__").alias("__c__")).collect()
    ]


def learn_unigram(
    docs: DataFrame,
    text_col: str,
    vocab_size: int = 200,
    max_piece_len: int = 6,
    seed_size: int = 1000,
    em_iters: int = 2,
    shrink: float = 0.75,
) -> List[Tuple[str, float]]:
    """Train a unigram vocabulary; returns [(piece, logprob), ...]
    sorted by piece.  Single characters are never pruned (coverage
    invariant: any word tokenizes)."""
    if not 0 < shrink < 1:
        raise ValueError("shrink must be in (0, 1)")
    word_dict = _word_dictionary(docs, text_col).localCheckpoint(eager=True)
    vocab = seed_vocab(word_dict, max_piece_len, seed_size)
    logp = _normalize(vocab)
    while True:
        for _ in range(em_iters):
            counts = _estep_counts(word_dict, logp, max_piece_len)
            # pieces never chosen by any best segmentation drop out of
            # the model naturally (count 0 -> no logp)
            logp = _normalize(counts)
        n_multi = sum(1 for p in logp if len(p) > 1)
        n_chars = sum(1 for p in logp if len(p) == 1)
        target_multi = max(0, vocab_size - n_chars)
        if n_multi <= target_multi:
            break
        keep = max(target_multi, int(n_multi * shrink))
        ranked = sorted(
            ((p, lp) for p, lp in logp.items() if len(p) > 1),
            key=lambda x: (-x[1], x[0]),
        )[:keep]
        logp = {p: lp for p, lp in logp.items() if len(p) == 1}
        logp.update(dict(ranked))
        # renormalize the surviving mass so logps stay a distribution
        total = sum(math.exp(lp) for lp in logp.values())
        logp = {p: lp - math.log(total) for p, lp in logp.items()}
    return sorted(logp.items())


def apply_unigram(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    vocab: List[Tuple[str, float]],
    max_piece_len: int = 6,
) -> DataFrame:
    """Tokenize: (id_col, token, pos) — one shuffle-free Arrow-batched
    pass; words Viterbi-segment under the trained vocab, token position
    is the running index across the document's words."""
    import pandas as pd

    from fluss_datafusion_spark.functions.text import tokens

    logp = dict(vocab)
    unk = min(logp.values()) - _UNK_PENALTY

    prepared = docs.select(
        F.col(id_col).alias("__id__"),
        tokens(F.lower(F.col(text_col))).alias("__ws__"),
    )

    def run(batches):
        for pdf in batches:
            ids, toks, poss = [], [], []
            for doc_id, words in zip(pdf["__id__"], pdf["__ws__"]):
                pos = 0
                for word in words:
                    if not word:
                        continue
                    for piece in viterbi_tokens(word, logp, max_piece_len, unk):
                        ids.append(doc_id)
                        toks.append(piece)
                        poss.append(pos)
                        pos += 1
            yield pd.DataFrame({id_col: ids, "token": toks, "pos": poss})

    return prepared.mapInPandas(run, f"{id_col} long, token string, pos int")
