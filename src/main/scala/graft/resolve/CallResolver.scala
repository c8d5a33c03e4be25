package graft.resolve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.Dictionary
import graft.sources.Transcripts
import graft.util.Ckpt._

/** Concrete cascade instances for the transcript KG.
  *
  *  - [[resolveCalls]]: FunctionCall mentions -> defining conversation, via
  *    global_unique (0.90) -> same_conv (0.85) -> import (0.80) ->
  *    operand (0.70) -> nested_var (0.60) -> same_dir/same-user (0.45)
  *    -> unverified (0.35). Exact analog of call_finder.rs:41-128 with
  *    file := conversation and directory := user (conv_id prefix); the
  *    type_resolved (1.0) head of the reference cascade is the dictionary
  *    path, [[resolveEntities]] — together the 7 strategies + fallback
  *    carry the reference's full confidence ladder.
  *  - [[resolveEntities]]: Entity mentions -> canonical entity id via the
  *    broadcast alias dictionary (type_resolved analog, conf 1.0,
  *    registry resolve_call_at — format.rs:1031-1046). The dictionary join is
  *    BROADCAST (tiny build side) and the probe side contains the hot
  *    SparkEngine key; broadcast joins are skew-immune, and the salted-join
  *    path (Cascade.saltedJoin) is exercised when the dictionary is too big
  *    to broadcast (asserted equivalent in CascadeSpec).
  */
object CallResolver {

  /** Default resolution path: the 7-strategy semantics expressed as a
    * SINGLE chain of left joins + a priority CASE — exactly the shape of the
    * DuckDB oracle's rcalls CTE. Because every strategy index is a
    * deterministic per-row function, the first-hit-wins remainder chain and
    * the left-join CASE are equivalent (asserted in CascadeSpec against
    * [[resolveCallsCascade]]); the flat form runs as ONE job with no
    * per-pass materialization barriers, which removes the cascade's
    * driver-sequential Amdahl term (~25 s of fixed cost at bench scale).
    *
    * defs: FunctionDef mentions (conv_id, turn_idx, name). calls:
    * FunctionCall mentions (conv_id, turn_idx, name). transcripts: the
    * six-column corpus (supplies the per-conversation import/tool map for
    * the `import` strategy, C3). Output: (conv_id, turn_idx, name,
    * resolved_conv, resolved_name, confidence, strategy) — resolved_name
    * differs from name only for the `operand` strategy, which resolves
    * through the alias dictionary to a sibling handler of the same
    * canonical entity (the receiver's data_type, call_finder.rs:90-108).
    */
  def resolveCalls(calls: DataFrame, defs: DataFrame, transcripts: DataFrame): DataFrame = {
    val spark = transcripts.sparkSession
    import spark.implicits._
    // eager serialized persist: five strategy-index builders
    // (gu/sc0/defCanon/byDate/byUser) run as CONCURRENT broadcast jobs —
    // each would otherwise re-derive this distinct from the mention table
    val defConvs = defs.select(col("name"), col("conv_id").as("def_conv")).distinct()
      .lcp()

    val globallyUnique = defConvs
      .groupBy("name")
      .agg(count(lit(1)).as("n"), min("def_conv").as("gu_conv"))
      .where(col("n") === 1)
      .drop("n")
    val convTools = transcripts
      .where(col("tool").isNotNull)
      .select(col("conv_id"), col("tool"))
      .distinct()
    val importIndex = defs
      .select("conv_id", "turn_idx", "name")
      .join(
        transcripts
          .where(col("tool").isNotNull)
          .select(col("conv_id"), col("turn_idx"), col("tool")),
        Seq("conv_id", "turn_idx")
      )
      .select(col("name"), col("tool"), col("conv_id").as("def_conv"))
      .distinct()
      .groupBy("name", "tool")
      .agg(min("def_conv").as("tool_min_conv"))
    val dict = Dictionary.aliasToCanonical.toSeq.toDF("call_alias", "cd_canonical")
    val defCanon = defConvs
      .withColumn("call_alias", regexp_replace(col("name"), "_handler$", ""))
      .join(broadcast(dict), Seq("call_alias"))
      .groupBy("cd_canonical")
      .agg(min(struct(col("def_conv"), col("name"))).as("m"))
      .select(col("cd_canonical"), col("m.def_conv").as("oc_conv"), col("m.name").as("oc_name"))
    val byDate = defConvs
      .withColumn("date_part", Transcripts.convDay(col("def_conv")))
      .groupBy("name", "date_part")
      .agg(min("def_conv").as("nv_conv"))
    val byUser = defConvs
      .withColumn("user_prefix", Transcripts.convUser(col("def_conv")))
      .groupBy("name", "user_prefix")
      .agg(min("def_conv").as("bu_conv"))

    // normalize to the distinct call-site key: resolution is a per-row
    // function of (conv_id, turn_idx, name), so duplicates carry no
    // information — and the cascade twin's import-pass groupBy would
    // collapse them anyway; distinct-ing BOTH entry points keeps the
    // asserted flat==cascade row identity for ANY input (ADVICE r2)
    val c = calls.select("conv_id", "turn_idx", "name").distinct()
    // per-call import resolution, restricted to the call's own conv x name
    // (the full conv x name matrix would be corpus-sized)
    val impRes = c
      .join(convTools, Seq("conv_id"))
      .join(broadcast(importIndex), Seq("name", "tool"))
      .groupBy("conv_id", "turn_idx", "name")
      .agg(min("tool_min_conv").as("imp_conv"))

    val sc0 = defConvs
      .select(col("name"), col("def_conv").as("conv_id"))
      .distinct()
      .withColumn("sc_hit", lit(1))

    val joined = c
      .withColumn("date_part", Transcripts.convDay(col("conv_id")))
      .withColumn("user_prefix", Transcripts.convUser(col("conv_id")))
      .withColumn("call_alias", regexp_replace(col("name"), "_handler$", ""))
      .join(broadcast(globallyUnique), Seq("name"), "left")
      .join(sc0, Seq("name", "conv_id"), "left")
      .join(impRes, Seq("conv_id", "turn_idx", "name"), "left")
      .join(broadcast(dict), Seq("call_alias"), "left")
      .join(broadcast(defCanon), Seq("cd_canonical"), "left")
      .join(broadcast(byDate), Seq("name", "date_part"), "left")
      .join(broadcast(byUser), Seq("name", "user_prefix"), "left")

    joined.select(
      col("conv_id"),
      col("turn_idx"),
      col("name"),
      coalesce(
        col("gu_conv"),
        when(col("sc_hit").isNotNull, col("conv_id")),
        col("imp_conv"),
        col("oc_conv"),
        col("nv_conv"),
        col("bu_conv"),
        lit("unverified")
      ).as("resolved_conv"),
      when(
        col("gu_conv").isNull && col("sc_hit").isNull && col("imp_conv").isNull &&
          col("oc_conv").isNotNull,
        col("oc_name")
      ).otherwise(col("name")).as("resolved_name"),
      when(col("gu_conv").isNotNull, 0.90)
        .when(col("sc_hit").isNotNull, 0.85)
        .when(col("imp_conv").isNotNull, 0.80)
        .when(col("oc_conv").isNotNull, 0.70)
        .when(col("nv_conv").isNotNull, 0.60)
        .when(col("bu_conv").isNotNull, 0.45)
        .otherwise(0.35)
        .cast("double")
        .as("confidence"),
      when(col("gu_conv").isNotNull, "global_unique")
        .when(col("sc_hit").isNotNull, "same_conv")
        .when(col("imp_conv").isNotNull, "import")
        .when(col("oc_conv").isNotNull, "operand")
        .when(col("nv_conv").isNotNull, "nested_var")
        .when(col("bu_conv").isNotNull, "same_dir")
        .otherwise("unverified")
        .as("strategy")
    )
  }

  /** Reference implementation: the same semantics as sequential
    * first-hit-wins passes over the unresolved remainder (Cascade.run) —
    * the shape a STATEFUL cascade needs; kept as the machinery demo and
    * asserted row-identical to [[resolveCalls]] in CascadeSpec.
    */
  def resolveCallsCascade(calls: DataFrame, defs: DataFrame, transcripts: DataFrame): DataFrame = {
    val spark = transcripts.sparkSession
    import spark.implicits._
    val sameName = (df: DataFrame) => df.withColumn("resolved_name", col("name"))
    // Five strategy indexes derive from defConvs, and Spark computes
    // broadcast build sides on CONCURRENT threads: with a lazy shared
    // subtree, those threads race to compute the same unmaterialized
    // distinct (duplicating the mention-table scan per broadcast, worse
    // with more cores — measured 60s at local[8] vs 26s at local[2]).
    // EAGER checkpoint materializes it exactly once, synchronously.
    val defConvs = defs.select(col("name"), col("conv_id").as("def_conv")).distinct()
      .lcp()

    // global_unique (call_finder.rs:69-84: name unique among non-empty
    // bodies): exactly one distinct defining conversation.
    val globallyUnique = defConvs
      .groupBy("name")
      .agg(count(lit(1)).as("n"), min("def_conv").as("resolved_conv"))
      .where(col("n") === 1)
      .drop("n")

    // import (0.80, call_finder.rs:90-98 attempt 3 + IMPORT_CACHE
    // call_finder.rs:130-218): the calling conversation's import section =
    // the distinct tools its turns used; a def is importable if its defining
    // turn ran one of those tools. Resolve to the smallest importable conv.
    val convTools = transcripts
      .where(col("tool").isNotNull)
      .select(col("conv_id"), col("tool"))
      .distinct()
    val defTools = defs
      .select("conv_id", "turn_idx", "name")
      .join(
        transcripts
          .where(col("tool").isNotNull)
          .select(col("conv_id"), col("turn_idx"), col("tool")),
        Seq("conv_id", "turn_idx")
      )
      .select(col("name"), col("tool"), col("conv_id").as("def_conv"))
      .distinct()
    // Pre-aggregate to per-(name, tool) minima BEFORE joining mentions: the
    // (name, tool) key has dictionary-size cardinality, so joining the raw
    // (name, tool, def_conv) table against calls explodes quadratically
    // (every call x every importable def conv) before the min() collapses
    // it — measured 8x the whole build time at bench scale. min over
    // per-tool minima == min over the union, so semantics are identical.
    val importIndex = defTools
      .groupBy("name", "tool")
      .agg(min("def_conv").as("tool_min_conv"))
      .lcp() // eager: the defs-x-transcripts join runs ONCE

    // operand (0.70, call_finder.rs:99-108 attempt 5): resolve through the
    // receiver's type — strip the _handler suffix, map the alias to its
    // canonical entity (Instance.data_type analog), and take the smallest
    // (conv, name) handler of the SAME canonical entity. The target name can
    // differ from the call name, hence resolved_name.
    val dict = Dictionary.aliasToCanonical.toSeq.toDF("alias", "canonical")
    val defCanon = defConvs
      .withColumn("alias", regexp_replace(col("name"), "_handler$", ""))
      .join(broadcast(dict), Seq("alias"))
      .groupBy("canonical")
      .agg(min(struct(col("def_conv"), col("name"))).as("m"))
      .select(
        col("canonical"),
        col("m.def_conv").as("resolved_conv"),
        col("m.name").as("resolved_name")
      )

    // nested_var (0.60, call_finder.rs:109-118 attempt 6): the enclosing
    // scope — the corpus is partitioned by day, so the call's enclosing
    // date partition plays the enclosing-var role; smallest same-date conv.
    val byDate = defConvs
      .withColumn("date_part", Transcripts.convDay(col("def_conv")))
      .groupBy("name", "date_part")
      .agg(min("def_conv").as("resolved_conv"))

    // same_dir analog: same user = the conv_id's user part; pick the
    // lexicographically smallest defining conv for determinism.
    val byUser = defConvs
      .withColumn("user_prefix", Transcripts.convUser(col("def_conv")))
      .groupBy("name", "user_prefix")
      .agg(min("def_conv").as("resolved_conv"))

    val strategies = Seq(
      Cascade.Strategy(
        "global_unique",
        0.90,
        rem => sameName(rem.join(broadcast(globallyUnique), Seq("name")))
      ),
      Cascade.Strategy(
        "same_conv",
        0.85,
        rem =>
          sameName(
            rem
              .join(
                broadcast(defConvs.select(col("name"), col("def_conv").as("conv_id")).distinct()),
                Seq("name", "conv_id"),
                "left_semi"
              )
              .withColumn("resolved_conv", col("conv_id"))
          )
      ),
      Cascade.Strategy(
        "import",
        0.80,
        rem =>
          sameName(
            rem
              .join(broadcast(convTools), Seq("conv_id"))
              .join(broadcast(importIndex), Seq("name", "tool"))
              .groupBy("conv_id", "turn_idx", "name")
              .agg(min("tool_min_conv").as("resolved_conv"))
          )
      ),
      Cascade.Strategy(
        "operand",
        0.70,
        rem =>
          rem
            .withColumn("alias", regexp_replace(col("name"), "_handler$", ""))
            .join(broadcast(dict), Seq("alias"))
            .join(broadcast(defCanon), Seq("canonical"))
            .drop("alias", "canonical")
      ),
      Cascade.Strategy(
        "nested_var",
        0.60,
        rem =>
          sameName(
            rem
              .withColumn("date_part", Transcripts.convDay(col("conv_id")))
              .join(broadcast(byDate), Seq("name", "date_part"))
              .drop("date_part")
          )
      ),
      Cascade.Strategy(
        "same_dir",
        0.45,
        rem =>
          sameName(
            rem
              .withColumn("user_prefix", Transcripts.convUser(col("conv_id")))
              .join(broadcast(byUser), Seq("name", "user_prefix"))
              .drop("user_prefix")
          )
      )
    )

    Cascade.run(
      // same input normalization as the flat twin (see resolveCalls)
      calls.select("conv_id", "turn_idx", "name").distinct(),
      Seq("conv_id", "turn_idx", "name"),
      strategies,
      fallback = Some(rem => sameName(rem.withColumn("resolved_conv", lit("unverified"))))
    ).select(
      "conv_id", "turn_idx", "name", "resolved_conv", "resolved_name", "confidence", "strategy"
    )
  }

  /** Entity mentions -> canonical ids via broadcast dictionary (conf 1.0). */
  def resolveEntities(spark: SparkSession, entityMentions: DataFrame): DataFrame = {
    import spark.implicits._
    val dict = Dictionary.aliasToCanonical.toSeq.toDF("name", "canonical")
    entityMentions
      .select("conv_id", "turn_idx", "name")
      .join(broadcast(dict), Seq("name"))
      .withColumn("confidence", lit(1.0))
      .withColumn("strategy", lit("alias_dict"))
      .select("conv_id", "turn_idx", "name", "canonical", "confidence", "strategy")
  }

  /** [[resolveEntities]] through the salted shuffle join (north rule's
    * hot-entity skew defense, Cascade.saltedJoin): the dictionary build side
    * is replicated S ways and the probe key salted by hash(conv_id), so the
    * hot entity (~1/3 of all turns) fans across S reducers instead of one
    * straggler. Used when the entity dimension outgrows broadcast; output is
    * identical to the broadcast path (same DuckDB oracle, CascadeSpec).
    */
  def resolveEntitiesSalted(spark: SparkSession, entityMentions: DataFrame): DataFrame = {
    import spark.implicits._
    val dict = Dictionary.aliasToCanonical.toSeq.toDF("name", "canonical")
    Cascade
      .saltedJoin(
        entityMentions.select("conv_id", "turn_idx", "name"),
        dict,
        "name",
        col("conv_id"),
        salts = 8
      )
      .withColumn("confidence", lit(1.0))
      .withColumn("strategy", lit("alias_dict"))
      .select("conv_id", "turn_idx", "name", "canonical", "confidence", "strategy")
  }
}
