"""Whitespace tokenization shared by every curation operator: the word
split, the word n-gram windows, and the one way grams get exploded.

Two Catalyst behaviours make the shape of these helpers load-bearing:

* Spark does no common-subexpression elimination inside
  higher-order-function lambdas. A word array that reaches a
  ``transform``/``slice`` lambda as the inline split expression is
  re-split once per window — O(words²) per document (measured 17× on
  the CCNet LM path, 4.7× on the MinHash path). So a word array is
  always BOUND: projected as a column of its own before anything
  derives from it. CollapseProject leaves such a projection alone
  because the consumer references the non-cheap alias more than once.
* ``explode`` over a bare array ATTRIBUTE makes InferFiltersFromGenerate
  add ``size(attr) > 0`` below the Generate; predicate pushdown then
  substitutes the attribute's producing expression, so the pushed
  Filter inlines the split once per reference — the un-binding above,
  in a Filter node (the ``benchmark_decontam`` leaf at sf0.1 on 4
  cores: 2.85 s median with the pushed Filter, 2.30 s without). The
  rule only fires for attribute inputs, so :func:`explode_grams`
  explodes an EXPRESSION of the bound words, directly above the
  projection that binds them.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F


def words(text: Column, *, lower: bool = False) -> Column:
    """The repo-standard word array: ``text`` trimmed, split on
    ``\\s+``, empty tokens dropped; NULL text has no words. ``lower``
    folds case before the split. Bind the result in its own projection
    before a lambda reads it (module docstring)."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.filter(F.split(F.lower(t) if lower else t, r"\s+"),
                    lambda w: w != "")


def word_ngrams(ws: Column, n: int) -> Column:
    """The consecutive ``n``-word windows of the bound word array
    ``ws``, each joined by one space, in order; ``[]`` when ``ws`` has
    fewer than ``n`` words."""
    nw = F.size(ws)
    return F.when(
        nw >= n,
        F.transform(F.sequence(F.lit(1), nw - (n - 1)),
                    lambda i: F.array_join(F.slice(ws, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def explode_grams(frame: DataFrame, text: Column,
                  to_array: Callable[[Column], Column], *,
                  keep: Sequence[str | Column] = (), lower: bool = False,
                  name: str = "gram") -> DataFrame:
    """One ``name`` row per element of ``to_array(words(text))``, with
    the ``keep`` columns of ``frame`` carried alongside.

    The words are bound in one projection and the explode sits directly
    above it, over the EXPRESSION ``to_array(_ws)``. ``to_array`` must
    derive a new array (never return its argument unchanged): exploding
    the bare ``_ws`` attribute lets Spark infer and push down a
    ``size(_ws) > 0`` filter that re-inlines the split (module
    docstring)."""
    bound = frame.select(*keep, words(text, lower=lower).alias("_ws"))
    return bound.select(*[c for c in bound.columns if c != "_ws"],
                        F.explode(to_array(F.col("_ws"))).alias(name))
