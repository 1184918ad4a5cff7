"""Result grouping with title-anchoring and small-group disbanding.

Ports the reference's grouping pipeline Spark-first:

- G1 ``is_grouping_result`` (``/root/reference/webui/src/result/format.rs:114-141``):
  a result may ANCHOR a group only when its *title* satisfies the whole
  query AST (boolean word-presence eval — no scores). Our corpus analog of
  a title is the document's first ``TITLE_TOKENS`` tokens (the heading).
- G2 group-by-path-prefix (``ranked.rs:116-139``): the group key is the
  result's directory (path prefix).
- G3 disband small groups (``ranked.rs:141-162``): groups with <= 3 children
  are merged back up — their members are emitted as individual results, as
  are all members of groups that never found an anchor (G1 fail).
- G4 group score = best member (``grouped.rs:28-31``).

Everything is DataFrame-native: the title-match AST eval compiles to a
Catalyst boolean over a token-array column (array_contains folds), the
group pass is one groupBy over the scored match set, and the disband pass
is a semi-join of members against the non-kept group keys (auto-broadcast:
group keys are orders of magnitude fewer than docs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..query.ast import Filter, NAmong, Not, QueryComp, Word

TITLE_TOKENS = 8
MIN_GROUP_CHILDREN = 4  # groups with <= 3 children are disbanded (G3)

# DataFrames persisted by the grouping passes (each intermediate feeds 2-3
# downstream joins; without caching the upstream SEARCH would re-scan the
# postings per branch). The returned result is lazy, so they cannot be
# unpersisted before the caller materializes it — callers either pass their
# own ``tracker`` list and unpersist it themselves, or rely
# on this module registry + ``release_cache()``, which long-lived serving
# sessions should call between queries (r5 review: the engine documents
# exactly this lifetime discipline; grouping must not silently leak).
_LIVE_CACHE: list[DataFrame] = []


def release_cache() -> None:
    """Unpersist intermediates cached by previous grouping calls."""
    for df in _LIVE_CACHE:
        df.unpersist()
    _LIVE_CACHE.clear()


def _persist(df: DataFrame, tracker: list | None) -> DataFrame:
    (_LIVE_CACHE if tracker is None else tracker).append(df.persist())
    return df


def compile_title_match(comp: QueryComp, toks: Column) -> Column:
    """Boolean AST eval over a token-array column (format.rs:114-141: the
    title must satisfy the query). Metadata filters never match a title."""
    if isinstance(comp, Word):
        return F.array_contains(toks, comp.word)
    if isinstance(comp, Filter):
        return F.lit(False)
    if isinstance(comp, Not):
        return ~compile_title_match(comp.comp, toks)
    if isinstance(comp, NAmong):
        hits = None
        for c in comp.among:
            h = compile_title_match(c, toks).cast("int")
            hits = h if hits is None else hits + h
        return hits >= F.lit(comp.n)
    raise TypeError(type(comp))


def group_anchored(
    results: DataFrame,
    titles: DataFrame,
    query_root: QueryComp,
    group_key: Column,
    limit: int | None = None,
    tracker: list | None = None,
) -> DataFrame:
    """Group scored results by ``group_key``; keep a group only when it is
    title-anchored (G1) and has > 3 members (G3); disband the rest into
    individual rows. Returns (key, score_r, members) ordered by
    (score_r desc, key asc).

    ``results``: (score, path, ...) — e.g. ``SearchEngine.search(q, None)``.
    ``titles``: (path, ttoks array<string>) title token arrays, keyed by the
    same path namespace (engine-internal doc ids are NOT the source table's
    ids — path is the stable join key). On a multi-repo corpus (titles
    carrying repo) the caller's ``group_key`` expression must include repo —
    a path-prefix key alone groups across repos; ``group_walk`` handles the
    repo namespace automatically.
    """
    tm = compile_title_match(query_root, F.col("ttoks"))
    # Join on (repo, path) when both sides carry repo — path alone fans out
    # across same-path repos; and LEFT join so a result path missing from
    # titles is still emitted (as a never-anchoring member) instead of being
    # silently dropped (ADVICE r2). A null title makes tm null -> false.
    join_keys = (
        ["repo", "path"]
        if "repo" in results.columns and "repo" in titles.columns
        else ["path"]
    )
    # key for DISBANDED singletons: repo-qualified when the join itself is
    # repo-keyed — path alone is ambiguous across repos (r5 review). When
    # titles are keyed by path only, the caller is asserting path IS the
    # unique namespace and keys stay bare. Null group keys (a nullable
    # group_key expression) coalesce to the singleton key so the row still
    # disbands and is emitted — an equi-join on a null grp would silently
    # drop it.
    self_key = (
        F.concat_ws("/", F.col("repo"), F.col("path"))
        if "repo" in join_keys
        else F.col("path")
    )
    # per feeds the groupBy AND the disbanded-members join; g feeds kept AND
    # disband_keys — persist both or the upstream SEARCH plan (postings
    # scan, decode, fold) re-executes once per branch (same discipline as
    # group_walk; registered in ``tracker`` or the module registry).
    per = _persist(
        results.join(titles, join_keys, "left")
        .withColumn("tm", F.coalesce(tm, F.lit(False)))
        .withColumn("_sk", self_key)
        .withColumn("grp", F.coalesce(group_key, F.col("_sk")))
        .select("grp", "_sk", "score", "tm"),
        tracker,
    )
    g = _persist(
        per.groupBy("grp").agg(
            F.max("score").alias("best"),
            F.count("*").alias("members"),
            F.max(F.col("tm").cast("int")).alias("anch"),
        ),
        tracker,
    )
    keep_pred = (F.col("anch") == 1) & (F.col("members") >= MIN_GROUP_CHILDREN)
    kept = g.filter(keep_pred).select(
        F.col("grp").alias("key"),
        F.round("best", 9).alias("score_r"),
        "members",
    )
    disband_keys = g.filter(~keep_pred).select("grp")
    disbanded = per.join(disband_keys, "grp").select(
        F.col("_sk").alias("key"),
        F.round("score", 9).alias("score_r"),
        F.lit(1).cast("long").alias("members"),
    )
    out = kept.unionByName(disbanded).orderBy(F.desc("score_r"), F.asc("key"))
    return out.limit(limit) if limit is not None else out


def _proper_ancestors(path_col: str) -> Column:
    """array of the proper ancestor directories of a '/'-separated path,
    shortest first: 'a/b/c/f' -> ['a', 'a/b', 'a/b/c']."""
    return F.expr(
        f"CASE WHEN size(split({path_col}, '/')) > 1 THEN "
        f"transform(sequence(1, size(split({path_col}, '/')) - 1), "
        f"i -> array_join(slice(split({path_col}, '/'), 1, i), '/')) "
        f"ELSE array() END"
    )


def _attach_longest(items: DataFrame, keys: DataFrame) -> DataFrame:
    """For each (path, score) item, the LONGEST key in ``keys(gkey)`` that is
    a proper ancestor directory of path (null when none): the reference's
    upward prefix walk (ranked.rs:126-137), re-expressed as ancestor-explode
    + equi-join + max-by-depth — a hash join on the prefix, not a
    nested-loop LIKE join, so it scales with |items| + |matches|."""
    anc = items.select(
        "path", "score", F.posexplode_outer(_proper_ancestors("path")).alias("lvl", "anc")
    )
    hit = anc.join(keys.select(F.col("gkey").alias("anc")), "anc", "left_semi")
    longest = hit.groupBy("path").agg(F.max_by("anc", "lvl").alias("gkey"))
    return items.join(longest, "path", "left")


def group_walk(
    results: DataFrame,
    titles: DataFrame,
    query_root: QueryComp,
    limit: int | None = None,
    min_children: int = MIN_GROUP_CHILDREN,
    tracker: list | None = None,
) -> DataFrame:
    """G2 longest-matching-ancestor grouping, the full reference walk
    (``/root/reference/webui/src/result/ranked.rs:107-162``) made
    deterministic and one-pass:

    - anchors (G1: title satisfies the AST) define group keys — the
      anchor's parent directory (the reference requires the anchor to be
      the directory's ``index.html``; our corpus analog is any
      title-matching result, with the best-scoring one as the group's
      parent — the reference's HashMap insert on duplicate anchors is
      order-nondeterministic, ours keeps surplus anchors as ordinary
      members instead of dropping them);
    - every non-anchor result walks UP its ancestor directories and joins
      the LONGEST one that is a group key (ranked.rs:126-137);
    - groups with fewer than ``min_children`` attached members disband
      (G3, ranked.rs:141-162): the parent and members re-walk to the
      longest KEPT ancestor group, else become individual results (the
      reference's cascade resolved in one deterministic pass);
    - group score = best member incl. parent (G4, grouped.rs:28-31).

    Returns (key, score_r, members) ordered by (score_r desc, key asc);
    ``members`` counts parent + attached + re-attached. When the title join
    is (repo, path)-keyed, the walk runs over the NAMESPACED path
    ``repo/path`` — the repo becomes the root segment of every ancestor
    chain, so groups and anchors can never mix documents from different
    repos that merely share directory names like ``src/`` (r5 review);
    emitted keys carry the repo prefix. Persisted intermediates register in
    ``tracker`` (or the module registry — see ``release_cache``).
    """
    tm = compile_title_match(query_root, F.col("ttoks"))
    join_keys = (
        ["repo", "path"]
        if "repo" in results.columns and "repo" in titles.columns
        else ["path"]
    )
    joined = results.join(titles, join_keys, "left")
    if "repo" in join_keys:
        joined = joined.withColumn(
            "path", F.concat_ws("/", F.col("repo"), F.col("path"))
        )
    parts = F.split(F.col("path"), "/")
    per = _persist(
        joined.withColumn("tm", F.coalesce(tm, F.lit(False)))
        .withColumn("dir", F.array_join(F.slice(parts, 1, F.size(parts) - 1), "/"))
        .select("path", "score", "tm", "dir"),
        tracker,
    )
    anchors = per.filter(F.col("tm")).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("dir").orderBy(F.desc("score"), F.asc("path"))),
    )
    parents = anchors.filter(F.col("rk") == 1).select(
        F.col("dir").alias("gkey"),
        F.col("path").alias("ppath"),
        F.col("score").alias("pscore"),
    )
    walkers = (
        per.filter(~F.col("tm"))
        .select("path", "score")
        .unionByName(anchors.filter(F.col("rk") > 1).select("path", "score"))
    )
    att = _persist(_attach_longest(walkers, parents), tracker)
    attached = att.filter(F.col("gkey").isNotNull())
    unattached = att.filter(F.col("gkey").isNull()).select("path", "score")

    g = attached.groupBy("gkey").agg(
        F.count("*").alias("children"), F.max("score").alias("mbest")
    )
    pg = parents.join(g, "gkey", "left").withColumn(
        "children", F.coalesce(F.col("children"), F.lit(0))
    )
    kept = pg.filter(F.col("children") >= min_children)
    disb = pg.filter(F.col("children") < min_children)

    # disband cascade: members + parent of each disbanded group re-walk to
    # the longest KEPT ancestor group (walking from the member path equals
    # walking from the group key: no group key deeper than the original
    # attachment can be the member's ancestor)
    rewalk = (
        attached.join(disb.select("gkey"), "gkey", "left_semi")
        .select("path", "score")
        .unionByName(
            disb.select(F.col("ppath").alias("path"), F.col("pscore").alias("score"))
        )
    )
    ratt = _persist(_attach_longest(rewalk, kept.select("gkey")), tracker)
    r_on = ratt.filter(F.col("gkey").isNotNull())
    r_off = ratt.filter(F.col("gkey").isNull()).select("path", "score")
    rg = r_on.groupBy("gkey").agg(
        F.count("*").alias("rn"), F.max("score").alias("rbest")
    )
    kept_final = (
        kept.join(rg, "gkey", "left")
        .select(
            F.col("gkey").alias("key"),
            F.round(
                F.greatest(
                    F.col("pscore"),
                    F.coalesce(F.col("mbest"), F.col("pscore")),
                    F.coalesce(F.col("rbest"), F.col("pscore")),
                ),
                9,
            ).alias("score_r"),
            (F.lit(1) + F.col("children") + F.coalesce(F.col("rn"), F.lit(0)))
            .cast("long")
            .alias("members"),
        )
    )
    indiv = (
        unattached.unionByName(r_off)
        .select(
            F.col("path").alias("key"),
            F.round("score", 9).alias("score_r"),
            F.lit(1).cast("long").alias("members"),
        )
    )
    out = kept_final.unionByName(indiv).orderBy(F.desc("score_r"), F.asc("key"))
    return out.limit(limit) if limit is not None else out
