package graft.mlx

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.QuadStore
import graft.sparql.Ast.TriplePattern
import graft.sparql.Compiler

/** The ML query surface (SURVEY §2.11): MODEL declarations, NEURAL
  * RELATION materialization, TRAIN, and the ML.PREDICT plan stage —
  * rebuilt as: descriptor registry + driver-side training on collected
  * feature rows (as the reference does, `execute_ml_train.rs`) +
  * distributed inference as a broadcast-weights mapPartitions stage
  * (`engine.rs:603-670,1162-1374`).
  */
final case class ModelSpec(
    name: String,
    hidden: Seq[Int],
    outputs: Seq[String], // exclusive labels; singleton = binary
    binary: Boolean)

final case class NeuralRelationSpec(
    predicate: String,
    model: String,
    inputQuery: String,    // SPARQL SELECT producing feature rows
    featureVars: Seq[String],
    anchorVar: String)

class MlRuntime(spark: SparkSession) {
  val models = scala.collection.mutable.Map.empty[String, ModelSpec]
  val trained = scala.collection.mutable.Map.empty[String, Mlp]
  val neuralRelations = scala.collection.mutable.Map.empty[String, NeuralRelationSpec]

  def declareModel(spec: ModelSpec): Unit = models(spec.name) = spec

  def declareNeuralRelation(spec: NeuralRelationSpec): Unit =
    neuralRelations(spec.predicate) = spec

  /** Attach externally-built weights (fixed-weight models, loads). */
  def setWeights(name: String, mlp: Mlp): Unit = trained(name) = mlp

  /** TRAIN: evaluate the data query, collect (features, label) rows to the
    * driver, run SGD. Label column must hold values from spec.outputs. */
  def train(modelName: String, data: DataFrame, featureCols: Seq[String],
      labelCol: String, lr: Double = 0.05, epochs: Int = 50,
      batch: Int = 32): Seq[Double] = {
    val spec = models(modelName)
    val rows = data.select(
        (featureCols.map(c => col(c).cast(DoubleType)) :+ col(labelCol).cast(StringType)): _*)
      .collect().toSeq
      // a null LABEL must drop the row, not train as the negative class
      // (review finding: binary mode mapped null → y=0 while multiclass
      // correctly discarded — same rows, different fates)
      .filter(r => (0 to featureCols.size).forall(!r.isNullAt(_)))
    val labelIx = spec.outputs.zipWithIndex.toMap
    val train = rows.flatMap { r =>
      val x = Array.tabulate(featureCols.size)(r.getDouble)
      val lbl = r.getString(featureCols.size)
      val y = if (spec.binary) (if (lbl == spec.outputs.head) 1 else 0)
              else labelIx.getOrElse(lbl, -1)
      if (y >= 0) Some((x, y)) else None
    }
    val sizes = featureCols.size +: spec.hidden :+ (if (spec.binary) 1 else spec.outputs.size)
    val init = Mlp.init(sizes, spec.outputs, spec.binary)
    val (m, losses) = Mlp.train(init, train, lr, epochs, batch)
    trained(modelName) = m
    losses
  }

  /** ML.PREDICT: append `outCol` with the model's label for each row.
    * Broadcast weights; whole inference is a narrow mapPartitions — no
    * shuffle, scales with input partitions. */
  def predict(input: DataFrame, modelName: String, featureCols: Seq[String],
      outCol: String): DataFrame = {
    val mlp = trained.getOrElse(modelName,
      throw new IllegalStateException(s"model $modelName not trained"))
    val bc = spark.sparkContext.broadcast(mlp)
    val schema = StructType(input.schema.fields :+ StructField(outCol, StringType))
    val fIdx = featureCols.map(input.schema.fieldIndex)
    val out = input.rdd.mapPartitions { it =>
      val m = bc.value
      it.map { r =>
        // anyToDouble covers Boolean/date/etc with a catch-all — the
        // inline match here MatchError'd on BooleanType features
        val x = fIdx.map(i => MlRuntime.anyToDouble(r.get(i))).toArray
        Row.fromSeq(r.toSeq :+ m.predictLabel(x))
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Registered SAVE_TO artifact paths per model (`neural_model_artifacts`
    * in the reference's SparqlDatabase). */
  val modelArtifacts = scala.collection.mutable.Map.empty[String, String]

  // ------------------------------------------------------------------
  // sklearn-pickle fallback (`ml/src/lib.rs:160-330` loads .pkl models
  // through embedded Python; here the pickle is parsed natively on the
  // JVM and the learned parameters broadcast — see graft.mlx.Sklearn)
  // ------------------------------------------------------------------

  val sklearnModels = scala.collection.mutable.Map.empty[String, SkModel]
  val sklearnClassifiers = scala.collection.mutable.Map.empty[String, Sklearn.PipelineClassifier]

  /** Load a pickled sklearn regressor (file path or `res:/name` for a
    * classpath resource) into the model registry. */
  def loadSklearnRegressor(name: String, path: String): SkModel = {
    val m = Sklearn.loadRegressor(loadPickle(path))
    sklearnModels(name) = m
    m
  }

  def loadSklearnClassifier(name: String, path: String): Sklearn.PipelineClassifier = {
    val m = Sklearn.loadClassifier(loadPickle(path))
    sklearnClassifiers(name) = m
    m
  }

  private def loadPickle(path: String): Py.V =
    if (path.startsWith("res:")) Pickle.loadResource(path.stripPrefix("res:"))
    else {
      val in = new java.io.FileInputStream(path)
      try Pickle.load(in) finally in.close()
    }

  /** ML.PREDICT with a loaded sklearn model: broadcast parameters, narrow
    * mapPartitions scoring — identical plan shape to [[predict]]. */
  def predictSklearn(input: DataFrame, modelName: String,
      featureCols: Seq[String], outCol: String): DataFrame = {
    val model = sklearnModels.getOrElse(modelName,
      throw new IllegalStateException(s"sklearn model $modelName not loaded"))
    val bc = spark.sparkContext.broadcast(model)
    val schema = StructType(input.schema.fields :+ StructField(outCol, DoubleType))
    val fIdx = featureCols.map(input.schema.fieldIndex)
    val out = input.rdd.mapPartitions { it =>
      val m = bc.value
      it.map { r =>
        val x = fIdx.map(i => MlRuntime.anyToDouble(r.get(i))).toArray
        Row.fromSeq(r.toSeq :+ m.predict(x))
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** ML.PREDICT with a loaded sklearn classifier → label column. */
  def predictSklearnLabel(input: DataFrame, modelName: String,
      featureCols: Seq[String], outCol: String): DataFrame = {
    val model = sklearnClassifiers.getOrElse(modelName,
      throw new IllegalStateException(s"sklearn classifier $modelName not loaded"))
    val bc = spark.sparkContext.broadcast(model)
    val schema = StructType(input.schema.fields :+ StructField(outCol, StringType))
    val fIdx = featureCols.map(input.schema.fieldIndex)
    val out = input.rdd.mapPartitions { it =>
      val m = bc.value
      it.map { r =>
        val x = fIdx.map(i => MlRuntime.anyToDouble(r.get(i))).toArray
        Row.fromSeq(r.toSeq :+ m.predictLabel(x))
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Per-model resource metrics parsed from the sibling `.ttl` schema
    * (mls vocabulary — `ml/src/lib.rs:64-139` runs the same extraction as
    * a SPARQL query over rdflib; here it runs over OUR engine). */
  final case class SkMetrics(trainingTime: Double = 0, predictionTime: Double = 0,
      memoryMb: Double = 0, cpuPct: Double = 0,
      mse: Option[Double] = None, r2: Option[Double] = None)

  val sklearnSchemas = scala.collection.mutable.Map.empty[String, SkMetrics]
  var bestSklearnModel: Option[String] = None

  /** Parse `<model>.ttl` performance metrics (mls:ModelEvaluation /
    * mls:specifiedBy / mls:hasValue, labels via rdfs:label) by running the
    * reference's extraction query through the graft SPARQL compiler. */
  def loadModelWithSchema(name: String, pklPath: String): SkMetrics = {
    val ttlPath = pklPath.replace(".pkl", ".ttl")
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ttlPath)), "UTF-8")
    val store = QuadStore.fromTriples(spark, graft.rdfio.RdfIO.parseTurtleDoc(doc))
    val rows = new Compiler(store).select(
      """SELECT ?label ?value WHERE {
           ?eval <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/ns/mls#ModelEvaluation> .
           ?eval <http://www.w3.org/ns/mls#specifiedBy> ?measure .
           ?eval <http://www.w3.org/ns/mls#hasValue> ?value .
           ?measure <http://www.w3.org/2000/01/rdf-schema#label> ?label
         }""").collect()
    var m = SkMetrics()
    rows.foreach { r =>
      val label = r.getString(0)
      toDoubleOpt(r.getString(1)).foreach { v =>
        label match {
          case "training_time" => m = m.copy(trainingTime = v)
          case "prediction_time" => m = m.copy(predictionTime = v)
          case "memory_usage_mb" => m = m.copy(memoryMb = v)
          case "cpu_usage_percent" => m = m.copy(cpuPct = v)
          case "mse" => m = m.copy(mse = Some(v))
          case "r2" => m = m.copy(r2 = Some(v))
          case _ => ()
        }
      }
    }
    sklearnSchemas(name) = m
    m
  }

  private def toDoubleOpt(s: String): Option[Double] =
    try Some(s.stripPrefix("\"").takeWhile(c => c.isDigit || c == '.' || c == '-' || c == 'e' || c == 'E' || c == '+').toDouble)
    catch { case _: Exception => None }

  /** Lowest weighted resource score wins (`ml/src/lib.rs:227-266`:
    * 0.5·cpu + 0.4·memory + 0.1·prediction_time). */
  def compareModels(names: Seq[String]): Option[String] = {
    if (names.isEmpty) return None
    val best = names.minBy(n => sklearnSchemas.get(n).map(m =>
      0.5 * m.cpuPct + 0.4 * m.memoryMb + 0.1 * m.predictionTime)
      .getOrElse(Double.MaxValue))
    bestSklearnModel = Some(best)
    Some(best)
  }

  /** Two-pass discovery over a model directory
    * (`ml/src/lib.rs:352-407`): pass 1 parses every `.pkl`'s TTL schema;
    * pass 2 loads ONLY the best-scoring model's parameters. */
  def discoverAndLoadModels(dir: String): Seq[String] = {
    val pkls = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".pkl")).sortBy(_.getName)
    val names = pkls.map { f =>
      val name = f.getName.stripSuffix(".pkl")
      loadModelWithSchema(name, f.getPath)
      name
    }.toSeq
    compareModels(names).foreach { best =>
      loadSklearnRegressor(best, new java.io.File(dir, best + ".pkl").getPath)
    }
    names
  }

  /** Execute a full `ML.PREDICT(MODEL <m>, INPUT { SELECT … }) AS ?y`
    * clause over a store: run the INPUT select through the compiler,
    * then dispatch native-first with pickle fallback — the reference's
    * Candle-then-Python order (`ml_predict_runtime.rs:109-160`; here
    * "Python" is the JVM-parsed sklearn registry, so the fallback also
    * runs distributed). Features = the INPUT select's projection. */
  def executeMlPredict(store: QuadStore, clause: String): DataFrame = {
    val (model, input, outVar) = new graft.sparql.SparqlParser().parseMlPredict(clause)
    val rows = new Compiler(store).compileSelect(input)
    val features = input.projection
    if (trained.contains(model)) predict(rows, model, features, outVar)
    else if (sklearnModels.contains(model)) predictSklearn(rows, model, features, outVar)
    else if (sklearnClassifiers.contains(model)) predictSklearnLabel(rows, model, features, outVar)
    else throw new IllegalStateException(
      s"ML.PREDICT: model $model neither trained (native) nor loaded (sklearn)")
  }

  /** Execute a `TRAIN NEURAL RELATION` declaration
    * (`neural_relations.rs:168-263` lower + execute): resolve the
    * registered NEURAL RELATION for the predicate (model, feature vars,
    * anchor), build the training frame from the DATA patterns (wrapped
    * into a SELECT over anchor+features+label, the reference's
    * `build_select_query`) or the raw QUERY, and train the model. The
    * loss/optimizer choices are validated at parse time; the runtime's
    * SGD trainer covers both (`execute_ml_train.rs` also lowers to one
    * training loop). Returns per-epoch losses. */
  def trainNeuralRelation(store: QuadStore,
      decl: graft.sparql.Ast.TrainNeuralRelationDecl): Seq[Double] = {
    val rel = neuralRelations.getOrElse(decl.predicate,
      throw new IllegalStateException(
        s"No NEURAL RELATION declaration registered for ${decl.predicate}"))
    val compiler = new Compiler(store)
    val data = decl.dataSource match {
      case Left(query) => compiler.select(query)
      case Right(patterns) =>
        val vars = (rel.anchorVar +: rel.featureVars :+ decl.labelVar).distinct
        compiler.select(s"SELECT ${vars.map("?" + _).mkString(" ")} WHERE { $patterns }")
    }
    decl.savePath.foreach(p => modelArtifacts(rel.model) = p)
    train(rel.model, data, rel.featureVars, decl.labelVar,
      lr = decl.learningRate, epochs = decl.epochs, batch = decl.batchSize)
  }

  /** NEURAL RELATION materialization (`neural_relations.rs`): run the
    * input query over the store, infer, insert `(anchor, predicate,
    * label)` facts. */
  def materializeNeuralRelation(store: QuadStore, predicate: String): Long = {
    val spec = neuralRelations(predicate)
    val features = new Compiler(store).select(spec.inputQuery)
    val preds = predict(features, spec.model, spec.featureVars, "__label")
    val facts = preds.select(
      lit(null).cast(StringType).as("g"),
      col(spec.anchorVar).as("s"),
      lit(predicate).as("p"),
      col("__label").as("o"))
    // checkpoint once: insert() reads the facts (a bounded collect, or a
    // compaction over the bound) and the count below reads them again, so
    // without this the whole select+broadcast+inference pipeline runs twice
    val materialized = facts.localCheckpoint()
    store.insert(materialized)
    materialized.count()
  }
}

object MlRuntime {
  /** Static so inference closures don't capture the runtime instance. */
  def anyToDouble(v: Any): Double = v match {
    case null => 0.0
    case d: Double => d
    case n: Number => n.doubleValue()
    case b: Boolean => if (b) 1.0 else 0.0
    case s: String => try s.toDouble catch { case _: Exception => 0.0 }
    case other => // dates/timestamps/anything else: lexical parse or 0.0
      try other.toString.toDouble catch { case _: Exception => 0.0 }
  }
}
