package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.catalog.CatalogOracle
import graft.core.Entry
import graft.llm.{Als, BinaryQuantization, BradleyTerry, Calibration, ClusterEval, CdcChunking, BpeTrain, CompressionSignal, DiversityStats, Lsa, Pca, UnigramLm, Contamination, CorpusOps, DedupQueries, EmbeddingDedup, ImportanceWeights, KMeans, Matryoshka, MultimodalOracle, PerceptualHash, LogisticRegression, NaiveBayes, PiiRedaction, ProductQuantization, TextAnalysis, TextPipeline, VectorSearch, VectorStats}
import graft.relational.{AllocationQueries, BenfordAudit, SlidingDistinct, VariantQueries, Sql4Surfaces, HierarchyRollup, SplitFinding, TreeGrow, AnalyticalQueries, BitemporalQueries, BitmapQueries, BucketedQueries, FeaturePrepQueries, IncrementalQueries, JourneyQueries, PrivacyAudit, RelationalQueries, ReplicaReconcile, NullSemantics, ReshapeStatsQueries, ScalarQueries, SelectionMedian, SketchAggregates, StatInference, SurrogateKeys, TableStatsQueries, TimeSeriesQueries, TpchCompletionQueries, TpchShapeQueries, WindowAggQueries}
import graft.operators.{Dbscan, GeoGridJoin, Hits, IntervalJoin, Isotonic, KCore, LabelPropagation, PageRank, ShortestPaths, Skyline, TriangleCount}
import graft.sources.{BinaryFiles, CsvScan, FixedWidthScan, DynamicOverwrite, FbcSource, Federation, HilbertLayout, K8sObjects, LayoutQueries, OrcSource, QuarantineIngest, SchemaEvolution, XmlSource, ZOrderQueries}
import graft.streaming.StreamShapeQueries

/** The entry registry contract — see SURVEY.md §7.
  *
  * Collects the entries each module declares; every entry here is an
  * operator from SURVEY.md §2.b with a matching DuckDB SQL string with
  * identical output column names. `queries` and `oracleSql` are built
  * once from them.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q01PricingSummary(spark, "/root/testdata/sf0.001")

  private val modules: Seq[Seq[Entry]] = Seq(
    RelationalQueries.entries,
    WindowAggQueries.entries,
    ScalarQueries.entries,
    StreamShapeQueries.entries,
    DedupQueries.entries,
    EmbeddingDedup.entries,
    TextAnalysis.entries,
    VectorSearch.entries,
    TextPipeline.entries,
    CsvScan.entries,
    CatalogOracle.entries,
    K8sObjects.entries,
    BucketedQueries.entries,
    AnalyticalQueries.entries,
    ReshapeStatsQueries.entries,
    IncrementalQueries.entries,
    TimeSeriesQueries.entries,
    graft.relational.QualityAuditQueries.entries,
    LayoutQueries.entries,
    IntervalJoin.entries,
    OrcSource.entries,
    ZOrderQueries.entries,
    TableStatsQueries.entries,
    QuarantineIngest.entries,
    CorpusOps.entries,
    VectorStats.entries,
    PageRank.entries,
    BpeTrain.entries,
    SchemaEvolution.entries,
    TriangleCount.entries,
    ProductQuantization.entries,
    graft.plans.TopK.entries,
    BinaryFiles.entries,
    Federation.entries,
    DynamicOverwrite.entries,
    MultimodalOracle.entries,
    graft.plans.SortedRuns.entries,
    graft.sources.DeletionVectors.entries,
    TpchShapeQueries.entries,
    Skyline.entries,
    XmlSource.entries,
    TpchCompletionQueries.entries,
    Contamination.entries,
    PiiRedaction.entries,
    NullSemantics.entries,
    SketchAggregates.entries,
    ImportanceWeights.entries,
    PrivacyAudit.entries,
    Matryoshka.entries,
    PerceptualHash.entries,
    BitemporalQueries.entries,
    HilbertLayout.entries,
    graft.plans.AsOfMergeJoin.entries,
    JourneyQueries.entries,
    StatInference.entries,
    ShortestPaths.entries,
    VariantQueries.entries,
    Sql4Surfaces.entries,
    BinaryQuantization.entries,
    KMeans.entries,
    FbcSource.entries,
    LabelPropagation.entries,
    Dbscan.entries,
    graft.plans.PlanLineage.entries,
    graft.plans.PlanMetrics.entries,
    BitmapQueries.entries,
    Pca.entries,
    UnigramLm.entries,
    CompressionSignal.entries,
    Isotonic.entries,
    KCore.entries,
    FeaturePrepQueries.entries,
    GeoGridJoin.entries,
    AllocationQueries.entries,
    FixedWidthScan.entries,
    SurrogateKeys.entries,
    SelectionMedian.entries,
    Hits.entries,
    Lsa.entries,
    ReplicaReconcile.entries,
    NaiveBayes.entries,
    LogisticRegression.entries,
    HierarchyRollup.entries,
    CdcChunking.entries,
    Als.entries,
    SplitFinding.entries,
    TreeGrow.entries,
    BradleyTerry.entries,
    ClusterEval.entries,
    Calibration.entries,
    DiversityStats.entries,
    graft.llm.Winnowing.entries,
    graft.sources.Sharding.entries,
    graft.llm.FeatureHashing.entries,
    graft.llm.RandomProjection.entries,
    graft.llm.ClassifierAgreement.entries,
    SlidingDistinct.entries,
    graft.sources.PostingsIndex.entries,
    graft.llm.DelongAuc.entries,
    graft.llm.WordPieceQuery.entries,
    graft.llm.SuffixArray.entries,
    graft.operators.Louvain.entries,
    graft.llm.Opq.entries,
    graft.operators.GraphServe.entries,
    graft.llm.BbitMinhash.entries,
    graft.llm.PmiFeatures.entries,
    graft.operators.IsolationTree.entries,
    graft.operators.Hnsw.entries,
    graft.operators.RecordLinkage.entries,
    graft.operators.Coreset.entries,
    graft.operators.SubmodularSelect.entries,
    BenfordAudit.entries,
    graft.operators.GraphInsert.entries,
    graft.llm.BinPacking.entries,
    graft.operators.FilteredServe.entries,
    graft.llm.RefinedServe.entries,
    graft.operators.FunctionalScc.entries,
    graft.llm.MmrSelect.entries,
    graft.relational.QuantileNormalize.entries,
    graft.llm.Word2vecPrep.entries,
    graft.relational.CausalStratification.entries,
    graft.relational.Raking.entries,
    graft.relational.SpearmanCorr.entries,
    graft.relational.KendallTau.entries,
    graft.relational.CountSketch.entries,
    graft.operators.ButterflyCount.entries,
    graft.relational.DynamicPivot.entries,
    graft.llm.BprTriplets.entries,
    graft.relational.DictionaryEncode.entries,
    graft.llm.BlocklistScan.entries,
    graft.relational.SequentialPairs.entries,
    graft.operators.KTruss.entries,
    graft.operators.WlRefinement.entries,
    graft.relational.SaxMotifs.entries,
    graft.operators.LinkPrediction.entries,
    graft.relational.TableFingerprint.entries,
    graft.relational.Changepoints.entries,
    graft.llm.HuffmanCost.entries,
    graft.llm.RankOverlap.entries,
    graft.operators.HyperBall.entries,
    graft.operators.RandomWalks.entries,
    graft.relational.VOptimalHistogram.entries,
    graft.relational.MatrixProfile.entries,
    graft.operators.LubyMis.entries,
    graft.relational.SystematicSample.entries,
    graft.relational.KruskalWallis.entries,
    graft.relational.FriedmanTest.entries,
    graft.operators.Coreness.entries,
    graft.operators.JpColoring.entries,
    graft.plans.MatviewRewrite.entries,
    graft.relational.DtwDistance.entries,
    graft.relational.SweepConcurrency.entries,
    graft.relational.EmpiricalBayes.entries,
    graft.relational.WaveletSynopsis.entries,
    graft.relational.BrownForsythe.entries,
    graft.relational.JonckheereTerpstra.entries,
    graft.relational.PageTrend.entries,
    graft.operators.Assortativity.entries,
    graft.operators.Betweenness.entries,
    graft.relational.CrossCorrelation.entries,
    graft.llm.SlopeOne.entries,
    graft.llm.Readability.entries,
    graft.relational.AnsariBradley.entries,
    graft.plans.JoinElimination.entries,
    graft.relational.HodgesLehmann.entries,
    graft.relational.CramerVonMises.entries,
    graft.relational.RunsTest.entries,
    graft.relational.DurbinWatson.entries,
    graft.relational.CochranArmitage.entries,
    graft.relational.MoodMedian.entries,
    graft.llm.MultiprobeLsh.entries,
    graft.operators.LocalClustering.entries,
    graft.relational.PpsSample.entries,
    graft.relational.PartialCorrelation.entries,
    graft.relational.IntraclassCorrelation.entries,
    graft.llm.ImageHistogram.entries,
    graft.relational.CronbachAlpha.entries,
    graft.operators.RichClub.entries,
    graft.relational.WilsonInterval.entries,
    graft.relational.FunnelProportionTest.entries,
    graft.operators.KatzCentrality.entries,
    graft.operators.DisparityFilter.entries,
    graft.operators.AttributeAssortativity.entries,
    graft.operators.EdgeBetweenness.entries,
    graft.llm.PassAtK.entries,
    graft.llm.ViterbiSegment.entries,
    graft.operators.BoruvkaMst.entries,
    graft.operators.Conductance.entries,
    graft.relational.ReqSketch.entries,
    graft.operators.SimRank.entries,
    graft.relational.FrequentItemsets.entries,
    graft.llm.Smote.entries,
    graft.llm.Ssim.entries,
    graft.operators.RandIndex.entries,
    graft.llm.DaviesBouldin.entries,
    graft.relational.GorillaCost.entries,
    graft.llm.LmPerplexity.entries,
    graft.operators.SccColoring.entries,
    graft.operators.Bridges.entries,
    graft.llm.KlDivergence.entries,
    graft.llm.HeapsLaw.entries,
    graft.llm.MaxSim.entries,
    graft.sources.EqualityDeletes.entries,
    graft.relational.HigherMoments.entries,
    graft.llm.LengthBucketing.entries,
    graft.llm.BleuScore.entries,
    graft.relational.WilcoxonSignedRank.entries,
    graft.relational.LadRegression.entries,
    graft.llm.ConditionalEntropy.entries,
    graft.llm.TokenDispersion.entries,
    graft.relational.TukeyHsd.entries,
    graft.llm.PhoneticBlocking.entries)

  /** Every oracle-checked entry, each declared once in its module. */
  val entries: Seq[Entry] =
    registry(modules.flatten, graft.streaming.StreamBench.benchOnly.keys)

  /** `entries`, after checking that no name is declared twice among them
    * or in `others`; throws naming every name that is.
    */
  private[graft] def registry(entries: Seq[Entry],
      others: Iterable[String]): Seq[Entry] = {
    val twice = (entries.map(_.name) ++ others).groupBy(identity)
      .collect { case (n, ns) if ns.size > 1 => n }.toSeq.sorted
    require(twice.isEmpty,
      s"entry names declared twice: ${twice.mkString(", ")}")
    entries
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = entries.map(e => e.name -> e.sql).toMap

  /** The entry-name selector of Bench, Verify and Explain: a
    * comma-separated list of substrings selects every name containing
    * any of them; no list selects every name.
    */
  def selected(patterns: Option[String]): String => Boolean =
    patterns.fold((_: String) => true) { p =>
      val ps = p.split(',').toSeq
      n => ps.exists(n.contains)
    }
}
