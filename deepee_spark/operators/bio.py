"""IOB tagging-scheme algebra (SURVEY.md §2.8 SC1-SC3), pure expressions.

  * iob2_valid — every tag O or {B,I}-X, I only continuing same type
    (EEGCN data_utils.py:6-15 semantics)
  * iob_to_iobes — B->S / I->E when not followed by a continuing I
    (data_utils.py:17-37)
  * bio_merge_spans — label sequence -> trigger spans; I-without-B is
    promoted to B (JMEE testing.py:25-60); type change closes the span.
    Realized with aggregate() over (tag, idx) pairs — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _tag_type(tag: Column) -> Column:
    return F.substring_index(tag, "-", -1)


def _tag_prefix(tag: Column) -> Column:
    return F.when(tag == "O", "O").otherwise(F.substring(tag, 1, 1))


def iob2_valid(tags: Column) -> Column:
    """True iff the tag sequence is valid IOB2."""
    idx = F.transform(tags, lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    ok_shape = F.forall(
        tags, lambda t: (t == "O") | _tag_prefix(t).isin("B", "I")
    )
    ok_cont = F.forall(
        idx,
        lambda s: F.when(_tag_prefix(s["t"]) != "I", F.lit(True)).otherwise(
            F.when(s["i"] == 0, F.lit(False)).otherwise(
                (_tag_prefix(F.element_at(tags, s["i"])) != "O")
                & (_tag_type(F.element_at(tags, s["i"])) == _tag_type(s["t"]))
            )
        ),
    )
    return ok_shape & ok_cont


def iob_to_iobes(tags: Column) -> Column:
    """IOB2 -> IOBES: B->S and I->E when the next tag doesn't continue."""
    n = F.size(tags)
    idx = F.transform(tags, lambda t, i: F.struct(t.alias("t"), i.alias("i")))

    def continues(s):
        nxt = F.when(s["i"] + 2 <= n, F.element_at(tags, s["i"] + 2))
        return (
            nxt.isNotNull()
            & (_tag_prefix(nxt) == "I")
            & (_tag_type(nxt) == _tag_type(s["t"]))
        )

    return F.transform(
        idx,
        lambda s: F.when(s["t"] == "O", s["t"])
        .when(
            _tag_prefix(s["t"]) == "B",
            F.when(continues(s), s["t"]).otherwise(
                F.concat(F.lit("S-"), _tag_type(s["t"]))
            ),
        )
        .otherwise(
            F.when(continues(s), s["t"]).otherwise(
                F.concat(F.lit("E-"), _tag_type(s["t"]))
            )
        ),
    )


def iobes_to_iob(tags: Column) -> Column:
    """IOBES -> IOB2 (EEGCN data_utils.py:66-84 semantics): S->B, E->I,
    B/I/O unchanged. Inverse of iob_to_iobes on valid IOB2 input — decode
    paths that emit IOBES (EEGCN main.py:105-106) run this before
    conlleval-style chunk scoring."""
    return F.transform(
        tags,
        lambda t: F.when(
            _tag_prefix(t) == "S", F.concat(F.lit("B-"), _tag_type(t))
        )
        .when(_tag_prefix(t) == "E", F.concat(F.lit("I-"), _tag_type(t)))
        .otherwise(t),
    )


def bio_merge_spans(tags: Column) -> Column:
    """-> array<struct<start:int, end:int, etype:string>> (end exclusive).

    Single left fold: state = (open struct or null, completed array).
    I-of-different-type or I-after-O starts a new span (JMEE promote rule).
    """
    idx = F.transform(tags, lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    empty_spans = F.array().cast("array<struct<start:int,end:int,etype:string>>")
    no_open = F.lit(None).cast("struct<start:int,etype:string>")
    init = F.struct(no_open.alias("open"), empty_spans.alias("done"))

    def step(acc, s):
        t, i = s["t"], s["i"]
        typ = _tag_type(t)
        is_o = t == "O"
        starts = (_tag_prefix(t) == "B") | (
            (_tag_prefix(t) == "I")
            & (acc["open"].isNull() | (acc["open"]["etype"] != typ))
        )
        continues = (
            (_tag_prefix(t) == "I")
            & acc["open"].isNotNull()
            & (acc["open"]["etype"] == typ)
        )
        closed = F.when(
            acc["open"].isNotNull() & ~continues,
            F.concat(
                acc["done"],
                F.array(
                    F.struct(
                        acc["open"]["start"].alias("start"),
                        i.cast("int").alias("end"),
                        acc["open"]["etype"].alias("etype"),
                    )
                ),
            ),
        ).otherwise(acc["done"])
        new_open = (
            F.when(is_o, no_open)
            .when(
                starts,
                F.struct(i.cast("int").alias("start"), typ.alias("etype")),
            )
            .otherwise(acc["open"])
        )
        return F.struct(new_open.alias("open"), closed.alias("done"))

    def finish(acc):
        # close a span still open at sequence end
        return F.when(acc["open"].isNull(), acc["done"]).otherwise(
            F.concat(
                acc["done"],
                F.array(
                    F.struct(
                        acc["open"]["start"].alias("start"),
                        F.size(tags).cast("int").alias("end"),
                        acc["open"]["etype"].alias("etype"),
                    )
                ),
            )
        )

    return F.aggregate(idx, init, step, finish)


def spans_to_bio(spans: Column, length: Column) -> Column:
    """SC18 inverse of bio_merge_spans: mention spans -> per-token BIO tags
    (MOGANED data_load.py:31-42; JMEE Sentence.py:31-56).

    spans: array<struct<start:int, end:int, etype:string>> (end exclusive);
    on overlap the EARLIEST-starting (then lexicographically-first type)
    span wins, deterministically. Pure expressions: one transform over the
    position sequence with a filter into the span array per position.
    """
    pos = F.sequence(F.lit(0), length - 1)

    def tag_at(i):
        covering = F.filter(
            spans, lambda s: (s["start"] <= i) & (i < s["end"])
        )
        best = F.array_min(
            F.transform(
                covering,
                lambda s: F.struct(
                    s["start"].alias("start"),
                    s["etype"].alias("etype"),
                ),
            )
        )
        return F.when(best.isNull(), F.lit("O")).otherwise(
            F.concat(
                F.when(best["start"] == i, F.lit("B-")).otherwise(F.lit("I-")),
                best["etype"],
            )
        )

    return F.transform(pos, tag_at)
