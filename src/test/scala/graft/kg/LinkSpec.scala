package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Entity linking + canonicalization: LSH blocking recall/precision on
  * crafted variants, salted hot-entity aggregation, alias-dictionary
  * scoring, and checkpoint resume (FIXTURES.md §8).
  */
class LinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def namesDf(names: (String, Long)*) = {
    import spark.implicits._
    names.toDF("name", "support")
  }

  test("LSH candidate pairs cluster near-duplicate names, not strangers") {
    val names = namesDf(
      ("Jose Garcia", 10L), ("José García", 3L), ("Jose  Garcia", 1L),
      ("John Smith", 5L), ("John Smith Jr", 2L),
      ("Wolfgang Pauli", 4L), ("Xinyi Zhang", 4L))
    val pairs = Linker.candidatePairs(names, maxDistance = 0.4)
      .select("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("Jose Garcia", "José García")) ||
           pairs.contains(("José García", "Jose Garcia")))
    assert(pairs.exists(p => p._1.contains("Smith") && p._2.contains("Smith")))
    assert(!pairs.exists(p => p._1.contains("Pauli") && p._2.contains("Zhang")))
    assert(!pairs.exists(p => p._1.contains("Garcia") && p._2.contains("Smith")))
  }

  /** Every first x last name (40 x 40, so each first name is a hot
    * bucket).
    */
  private lazy val fullNames = {
    import graft.corpus.SyntheticCorpus.{FirstNames, LastNames}
    for (f <- FirstNames; l <- LastNames) yield s"$f $l"
  }

  /** Asserts that `Linker.candidatePairs` returns exactly the rows of
    * spark.ml `MinHashLSH(5 tables, seed 42).approxSimilarityJoin` over
    * `names`, with bit-identical `dist`, at each of `distances`; returns
    * the reference rows per distance.
    */
  private def assertMatchesMinHashLsh(names: Seq[String],
      distances: Seq[Double]): Seq[Set[(String, String, Long)]] = {
    import spark.implicits._
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val df = names.distinct.map(n => (n, 1L)).toDF("name", "support")
    val grams = udf((n: String) => Linker.shingles(Linker.normalize(n)))
    val feat = new HashingTF().setInputCol("grams").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
      .transform(df.withColumn("grams", grams(col("name"))))
    val model = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(5).setSeed(42).fit(feat)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    distances.map { maxDistance =>
      val expected = rows(model.approxSimilarityJoin(feat, feat, maxDistance, "dist")
        .filter(col("datasetA.name") < col("datasetB.name"))
        .select(col("datasetA.name"), col("datasetB.name"), col("dist"))).toSet
      val got = Linker.candidatePairs(df, maxDistance)
      assert(got.columns.toSeq == Seq("name_a", "name_b", "dist"))
      val gotSeq = rows(got)
      val gotRows = gotSeq.toSet
      assert(gotSeq.size == gotRows.size, "one row per pair")
      val (missing, extra) = (expected -- gotRows, gotRows -- expected)
      assert(missing.size + extra.size == 0, s"maxDistance $maxDistance: " +
        s"missing ${missing.take(5)}, extra ${extra.take(5)}")
      expected
    }
  }

  test("candidatePairs returns spark.ml MinHashLSH's rows with bit-identical dist") {
    // the full names, an accent-folded and a one-edit variant of each,
    // then multi-byte grams and names of 0-2 characters
    val rand = new scala.util.Random(7)
    val folded = fullNames.map(n => java.text.Normalizer
      .normalize(n, java.text.Normalizer.Form.NFD).replaceAll("\\p{M}", ""))
    val edited = fullNames.map { n =>
      n.updated(rand.nextInt(n.length), ('a' + rand.nextInt(26)).toChar)
    }
    val special = Seq("Łukasz Żółć", "Lukasz Zolc", "Łukasz Zolc",
      "王小明", " 王小明", "王晓明", "山田太郎", "山田花子", "김민준", "김민지",
      "司马相如与卓文君的故事", "司马相如与卓文君的传说",
      "", " ", "a", "A", "ab", "Ab", "é", "xy")
    val names = (fullNames ++ folded ++ edited ++ special).distinct
    assert(names.size > 3000)
    for (expected <- assertMatchesMinHashLsh(names, Seq(0.1, 0.3, 0.4, 0.5))) {
      assert(expected.size > 500, s"only ${expected.size} reference rows")
      assert(expected.exists(_._1.exists(_ >= 0x3000)), "no CJK pair")
    }
  }

  test("candidatePairs matches MinHashLSH when prefixes hold only hot grams") {
    // every word of 2-9 letters over the letters of the full names'
    // most frequent gram: each gram such a word holds is held by more
    // names than any other gram, so its rarest-first prefix is made of
    // the vocabulary's hottest grams, join keys shared by hundreds of names
    def grams(ns: Seq[String]) = ns.flatMap(n => Linker.shingles(Linker.normalize(n)))
    val letters = grams(fullNames).groupBy(identity).maxBy(_._2.size)._1
      .filter(_.isLetter).distinct
    val words = (2 to 9).flatMap(k =>
      (1 to k).foldLeft(Seq(""))((ws, _) => for (w <- ws; c <- letters) yield w + c))
    val names = words.map(_.capitalize) ++ fullNames
    val df = grams(names).groupBy(identity).view.mapValues(_.size).toMap
    val hot = grams(words).toSet
    assert(hot.map(df).min > (df.keySet -- hot).map(df).max)
    val counts = assertMatchesMinHashLsh(names, Seq(0.1, 0.3, 0.4, 0.5))
      .map(_.size)
    assert(counts.last > 1000, s"reference rows per distance: $counts")
  }

  test("connected components + canonical election merge variant clusters") {
    val names = namesDf(
      ("Jose Garcia", 10L), ("José García", 3L), ("Garcia, Jose", 1L),
      ("John Smith", 5L), ("Xinyi Zhang", 4L))
    val pairs = namesDf().sparkSession.createDataFrame(Seq(
      ("Jose Garcia", "José García", 0.1),
      ("Garcia, Jose", "Jose Garcia", 0.2))).toDF("name_a", "name_b", "dist")
    val membership = Canonicalize.components(pairs)
    val nodes = Canonicalize.entities(names, membership)
    val rows = nodes.collect()
    assert(rows.length == 3) // garcia cluster + 2 singletons
    val garcia = rows.find(_.getAs[scala.collection.Seq[String]]("aliases").length == 3).get
    assert(garcia.getAs[String]("canonical_name") == "Jose Garcia") // top support
    assert(garcia.getAs[Long]("support") == 14L)
  }

  test("hot-entity skew: salted aggregation handles a 20% hot alias") {
    import spark.implicits._
    // one hot name with very high support + 500 cold names, all linked
    // to the hot one (a pathological single component)
    val cold = (1 to 500).map(i => (f"Cold Name $i%03d", 1L))
    val names = namesDf((("Hot Wang", 100000L) +: cold): _*)
    val pairs = cold.map { case (n, _) => ("Hot Wang", n, 0.1) }
      .toDF("name_a", "name_b", "dist")
      .select(least(col("name_a"), col("name_b")).as("name_a"),
        greatest(col("name_a"), col("name_b")).as("name_b"), col("dist"))
    val membership = Canonicalize.components(pairs)
    val nodes = Canonicalize.entities(names, membership)
    val rows = nodes.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("canonical_name") == "Hot Wang")
    assert(rows.head.getAs[scala.collection.Seq[String]]("aliases").length == 501)
    assert(rows.head.getAs[Long]("support") == 100500L)
  }

  test("candidate pairs connect all variants of one normal form") {
    // accent/case variants of one name + an unrelated name: the variants
    // share one 3-gram set, so they pair at dist 0.0 and connect into one
    // component; the unrelated name gets no link, not even to itself
    val names = namesDf(
      ("jose garcia", 5L), ("José García", 3L), ("JOSE GARCIA", 1L),
      ("Ada L", 1L))
    val links = Linker.candidatePairs(names)
    val membership = Canonicalize.components(links)
    val comps = membership.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(comps.size == 3) // the three garcia variants linked
    assert(comps.values.toSet.size == 1, "one component")
    assert(!comps.contains("Ada L")) // no degenerate self-links
  }

  test("alternating-star CC collapses a path graph well inside the round bound") {
    import spark.implicits._
    // A 12-node PATH is the anti-star worst case for the alternating
    // large-star/small-star core (r8: replaced the GraphX Pregel CC):
    // hash-min propagation would need ~12 rounds, the alternating
    // algorithm collapses it in O(log n) — maxIter=8 < the path length
    // proves the sub-diameter convergence is real, not just the bound
    // being generous; the labels must be the min-id election.
    val chain = (1 until 12).map(i => (f"cc node $i%02d", f"cc node ${i + 1}%02d"))
    val pairs = chain.toDF("name_a", "name_b")
    val membership = Canonicalize.components(pairs, maxIter = 8)
    val comps = membership.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(comps.length == 12)
    assert(comps.map(_._2).distinct.length == 1, "one chain component")
    // min-id election: every label is the smallest member id
    val minId = comps.map(r => Canonicalize.nameId(r._1)).min
    assert(comps.forall(_._2 == minId), "component label must be the min id")
  }

  test("mention-level hot-alias skew: AQE splits the skewed edges join") {
    import spark.implicits._
    // A hot ALIAS is one row in the linking vocabulary (Linker works on
    // distinct names), so mention-level skew lands on the edges join:
    // triples JOIN alias->entity ON obj. One alias holding ~20% of all
    // mentions funnels 20% of the fact side through one shuffle
    // partition — exactly what AQE's skew-join split is for. Conf
    // thresholds are scaled down so the test corpus triggers the same
    // runtime re-plan a 100 TB run would.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val ts = new java.sql.Timestamp(0L)
      val nAliases = 200
      val triples = spark.range(0, 50000).map { i =>
        val alias =
          if (i % 5 == 0) "Hot Wang" // 20% of mentions
          else f"Cold Name ${i % nAliases}%03d"
        graft.spark.Triple(s"doc://skew/$i", "mentionsPerson", alias,
          s"doc://skew/$i", ts, 1.0)
      }
      val nodes = (("Hot Wang", Seq("Hot Wang", "H. Wang")) +:
        (0 until nAliases).map(a =>
          (f"Cold Name $a%03d", Seq(f"Cold Name $a%03d"))))
        .toDF("canonical_name", "aliases")
        .select(
          format_string("person:%03d", monotonically_increasing_id())
            .as("entity_id"),
          col("canonical_name"), col("aliases"))
      val edges = Canonicalize.canonicalEdges(triples, nodes)
      // execute the edges plan ITSELF (count() would build a separate
      // aggregate plan and leave edges' adaptive plan non-final)
      val n = edges.collect().length
      assert(n == 50000, s"every mention canonicalizes exactly once, got $n")
      val plan = edges.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected an AQE skew-split join in the final plan:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  test("pipeline stages resume from checkpoint with identical output") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_kg_test").toString
    val spark2 = spark
    import spark2.implicits._

    // monkey-run a mini pipeline via Stages directly
    val stages = new Stages(spark, dir)
    val df1 = stages.stage("s1") { Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val df2 = stages.stage("s2", df1.count()) {
      df1.withColumn("v2", concat(col("v"), lit("!")))
    }
    val firstRun = df2.collect().map(_.toString).sorted.toSeq

    // delete s2; rerun must recompute s2 from the s1 checkpoint
    graft.TestSpark.deleteRec(new java.io.File(s"$dir/s2"))
    val stagesB = new Stages(spark, dir)
    var s1Recomputed = false
    val df1b = stagesB.stage("s1") { s1Recomputed = true; Seq.empty[(Int, String)].toDF("id", "v") }
    val df2b = stagesB.stage("s2", df1b.count()) {
      df1b.withColumn("v2", concat(col("v"), lit("!")))
    }
    assert(!s1Recomputed, "s1 should have been resumed from checkpoint")
    assert(df2b.collect().map(_.toString).sorted.toSeq == firstRun)

    // lineage recorded per stage
    val lin = stagesB.lineage()
    assert(lin.select("stage").distinct().count() == 2)
    graft.TestSpark.deleteRec(new java.io.File(dir))
  }
}
