package graft.config

import java.io.{FileNotFoundException, FileReader}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A permissive-typed configuration node (the YAML dict), with fail-fast
  * typed accessors. Mirrors the reference's dict-shape configs validated
  * field-by-field with ValueError (…/config/config_loader.py:4-26 and the
  * per-field checks in …/connectors/kafka_connector.py:46-49, 163-166,
  * 204-214).
  *
  * Every getter reads through [[opt]], which records the key whether or
  * not it is present; [[graft.pipeline.ProcessorRegistry.resolve]]
  * rejects any supplied key no getter read, so a processor's accepted
  * keys are exactly the ones its constructor asks for. A YAML scalar and
  * a quoted string parse alike (both arrive as their string form). Each
  * typed getter fails with an `IllegalArgumentException` naming the key
  * and the bad value.
  */
final case class Conf(m: Map[String, Any]) {
  private[this] val read = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Keys looked up so far, present or absent. */
  def keysRead: Set[String] = read.asScala.toSet

  def opt(key: String): Option[Any] = {
    read.add(key)
    m.get(key) match {
      case Some(null) => None
      case other      => other
    }
  }
  def str(key: String): Option[String] = opt(key).map(_.toString).filter(_.nonEmpty)
  def str(key: String, default: String): String = str(key).getOrElse(default)
  def reqStr(key: String, err: String = ""): String =
    str(key).getOrElse(throw new IllegalArgumentException(
      if (err.nonEmpty) err else s"missing required param '$key'"))
  def sub(key: String): Option[Conf] = opt(key).collect {
    case jm: java.util.Map[_, _] => Conf(Conf.toScala(jm))
    case sm: Map[_, _]           => Conf(sm.asInstanceOf[Map[String, Any]])
  }

  /** An integer in [`min`, `max`]. */
  def long(key: String, min: Long, max: Long = Long.MaxValue): Option[Long] =
    str(key).map { s =>
      val v =
        try s.toLong
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be ${Conf.integer(min)}, got '$s'") }
      if (v < min) throw new IllegalArgumentException(s"$key must be >= $min, got $v")
      if (v > max) throw new IllegalArgumentException(s"$key must be <= $max, got $v")
      v
    }
  def int(key: String, min: Int): Option[Int] =
    long(key, min, Int.MaxValue).map(_.toInt)

  /** A number in [`lo`, `hi`] (NaN is out of range). */
  def double(key: String, lo: Double, hi: Double): Option[Double] =
    str(key).map { s =>
      val range = s"[${Conf.num(lo)}, ${Conf.num(hi)}]"
      val v =
        try s.toDouble
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a number in $range, got '$s'") }
      if (!(v >= lo && v <= hi))
        throw new IllegalArgumentException(s"$key must be in $range, got $v")
      v
    }

  /** `true` or `false`, in any letter case; anything else fails. */
  def bool(key: String): Option[Boolean] = str(key).map { s =>
    s.toLowerCase match {
      case "true"  => true
      case "false" => false
      case _ => throw new IllegalArgumentException(
        s"$key must be true or false, got '$s'")
    }
  }

  /** A list of strings; a scalar where a list belongs fails. */
  def strList(key: String): Option[Seq[String]] = opt(key).map {
    case l: Seq[_] => l.map(_.toString)
    case other => throw new IllegalArgumentException(
      s"$key must be a list, got '$other'")
  }
}

object Conf {
  val empty: Conf = Conf(Map.empty)
  private def integer(min: Long): String = min match {
    case 1L => "a positive integer"
    case 0L => "a non-negative integer"
    case m  => s"an integer >= $m"
  }
  private def num(d: Double): String = if (d.isWhole) d.toLong.toString else d.toString
  private[config] def toScala(jm: java.util.Map[_, _]): Map[String, Any] =
    jm.asScala.map { case (k, v) => k.toString -> convert(v) }.toMap
  private def convert(v: Any): Any = v match {
    case jm: java.util.Map[_, _]  => toScala(jm)
    case jl: java.util.List[_]    => jl.asScala.map(convert).toList
    case other                    => other
  }
}

/** source/sink declaration: `{type: …, config: {…}}`. */
final case class ComponentConfig(componentType: String, config: Conf)

/** processor declaration: `{name: …, class: …, params: {…}}`. */
final case class ProcessorConfig(name: String, className: String, params: Conf)

/** The whole pipeline declaration (…/pipeline/streaming_pipeline.py:145-170
  * build order: source → processors → sink).
  */
final case class PipelineConfig(
    appName: String,
    source: ComponentConfig,
    processors: List[ProcessorConfig],
    sink: ComponentConfig)

/** App-level settings — the twin of /root/reference/configs/app_config.yaml:
  * the session-wide knobs (app name, master, optional log level) that live
  * OUTSIDE any one pipeline declaration. The kafka block in the same file
  * is connection config and flows through [[ComponentConfig]] instead.
  */
final case class AppConfig(
    appName: String,
    master: String,
    logLevel: Option[String])

object AppConfig {
  def from(conf: Conf): AppConfig = AppConfig(
    appName = conf.str("app_name").getOrElse("graft-app"),
    master = conf.str("spark_master").getOrElse("local[*]"),
    logLevel = conf.str("log_level"))
}

/** YAML → [[PipelineConfig]], with the reference's fail-fast behavior:
  * missing file and unparseable YAML abort immediately
  * (config_loader.py:19-26), and the structural checks reproduce the
  * messages at streaming_pipeline.py:60-62, 80-82, 117-118, 152-165.
  */
object YamlConfig {

  def loadFile(path: String): Conf = {
    if (!Files.exists(Paths.get(path)))
      throw new FileNotFoundException(s"Configuration file not found: $path")
    val reader = new FileReader(path)
    try load(reader)
    finally reader.close()
  }

  def loadString(yaml: String): Conf = load(yaml)

  private def load(src: AnyRef): Conf = {
    val parsed =
      try {
        val y = new org.yaml.snakeyaml.Yaml()
        src match {
          case r: FileReader => y.load[Any](r)
          case s: String     => y.load[Any](s)
        }
      } catch {
        case e: org.yaml.snakeyaml.error.YAMLException =>
          throw new IllegalArgumentException(s"Error parsing YAML: ${e.getMessage}", e)
      }
    parsed match {
      case jm: java.util.Map[_, _] => Conf(Conf.toScala(jm))
      case _ =>
        throw new IllegalArgumentException("Top-level YAML must be a mapping")
    }
  }

  def pipeline(conf: Conf): PipelineConfig = {
    val appName = conf.str("app_name").getOrElse("StreamingPipeline")
    val source = component(conf, "source",
      missing = "Pipeline 'source' configuration is missing.",
      badShape = "Reader 'type' or 'config' not specified.")
    val sink = component(conf, "sink",
      missing = "Pipeline 'sink' configuration is missing.",
      badShape = "Writer 'type' or 'config' not specified.")
    val processors = conf.opt("processors") match {
      case None => Nil
      case Some(list: List[_]) =>
        list.zipWithIndex.map {
          case (m: Map[_, _], i) =>
            val c = Conf(m.asInstanceOf[Map[String, Any]])
            val name = c.str("name").getOrElse(s"Processor_${i + 1}")
            val cls = c.reqStr("class", s"Processor class not specified for $name")
            ProcessorConfig(name, cls, c.sub("params").getOrElse(Conf.empty))
          case (other, i) =>
            throw new IllegalArgumentException(
              s"Processor entry ${i + 1} must be a mapping, got: $other")
        }
      case Some(other) =>
        throw new IllegalArgumentException(s"'processors' must be a list, got: $other")
    }
    PipelineConfig(appName, source, processors, sink)
  }

  def pipelineFromFile(path: String): PipelineConfig = pipeline(loadFile(path))

  def app(conf: Conf): AppConfig = AppConfig.from(conf)

  def appFromFile(path: String): AppConfig = app(loadFile(path))

  private def component(conf: Conf, key: String, missing: String,
                        badShape: String): ComponentConfig = {
    val c = conf.sub(key).getOrElse(throw new IllegalArgumentException(missing))
    val tpe = c.str("type").getOrElse(throw new IllegalArgumentException(badShape))
    val inner = c.sub("config").getOrElse(throw new IllegalArgumentException(badShape))
    ComponentConfig(tpe, inner)
  }
}
