"""BPE tokenizer application: greedily apply a trained merge table to
every document. Completes the tokenizer story started by
`q_bpe_pair_counts` (one training round): train rounds produce merges;
this operator applies them.

Scale shape: the greedy merge loop is inherently iterative per word, so
it runs in Python — but over DISTINCT WORDS (the vocabulary), never the
token stream: one distinct-word aggregate, one Arrow `mapInPandas`
encode over |types| rows, then a broadcast join back onto the exploded
token stream and a per-doc re-aggregate. At 100 TB the Python cost is
proportional to vocabulary size (~10^6), not corpus size (~10^12
tokens); the corpus-side work is all native explode/join/agg.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_etl_spark.operators.textquality import ws_tokens


def bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one word: start from characters, repeatedly
    merge the present pair with the LOWEST merge-table rank (ties
    impossible — ranks are unique), leftmost occurrence first within a
    pass, until no mergeable pair remains. The standard algorithm
    (Sennrich et al. 2016)."""
    pieces = list(word)
    while len(pieces) > 1:
        best_rank = None
        best_idx = -1
        for i in range(len(pieces) - 1):
            r = ranks.get((pieces[i], pieces[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_idx = i
        if best_rank is None:
            break
        pieces[best_idx : best_idx + 2] = [pieces[best_idx] + pieces[best_idx + 1]]
    return pieces


def bpe_encode(
    corpus: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode every document with a fixed BPE merge table.

    Returns (id, n_words, n_pieces, pieces_md5) where pieces_md5
    fingerprints the full piece sequence (pieces joined by U+241F
    within a word, words by space, in document token order) — a
    compact, order-faithful witness of the encoding for testing.

    With ``merges=[]`` the encoding provably degenerates to characters
    (n_pieces == total characters of all words), which is the
    SQL-expressible planted oracle for the plumbing; the merge loop
    itself is covered by unit tests on known merge tables.
    """
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    toks = corpus.select(
        F.col(id_col),
        F.posexplode(ws_tokens(F.col(text_col))).alias("_pos", "_w"),
    )
    vocab = toks.select("_w").distinct()

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            words = pdf["_w"]
            enc = [bpe_word(w, ranks) for w in words]
            yield pd.DataFrame(
                {
                    "_w": words,
                    "_n_pieces": [len(e) for e in enc],
                    "_enc": ["␟".join(e) for e in enc],
                }
            )

    encoded = vocab.mapInPandas(
        encode, schema="_w string, _n_pieces long, _enc string"
    )

    # plain equi-join: the encoded VOCAB is corpus-vocab-scale (every
    # distinct word), so it must not carry a broadcast hint — AQE still
    # broadcasts it at small actual sizes (r7 broadcast-site review)
    joined = toks.join(encoded, "_w")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_n_pieces").alias("n_pieces"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("_pos"), F.col("_enc")))
                        ),
                        lambda s: s["_enc"],
                    ),
                )
            ).alias("pieces_md5"),
        )
    )
