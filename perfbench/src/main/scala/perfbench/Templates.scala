package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One query or update template: `%Name%` placeholders filled from a parameter map. */
final case class Template(group: String, name: String, text: String) {
  def id: String = s"$group/$name"
  def fill(prefixes: String, params: Map[String, String]): String = {
    val body = "%([A-Za-z0-9]+)%".r.replaceAllIn(text, m =>
      java.util.regex.Matcher.quoteReplacement(params.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"$id: no value for %${m.group(1)}%"))))
    prefixes + body
  }
}

/** The template files under `perfbench/templates`, grouped by directory. */
final class Templates(val prefixes: String, groups: Map[String, Seq[Template]]) {
  def apply(group: String): Seq[Template] =
    groups.getOrElse(group, throw new IllegalArgumentException(s"no templates in $group"))
  def one(group: String, name: String): Template =
    apply(group).find(_.name == name).getOrElse(throw new IllegalArgumentException(s"no template $group/$name"))
}

object Templates {
  def load(dir: Path): Templates = {
    require(Files.isDirectory(dir), s"template directory $dir not found (run from the repository root)")
    val groups = Seq("explore", "bi", "path", "update").map { g =>
      val files = Files.list(dir.resolve(g)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      g -> files.map(f => Template(g, f.getFileName.toString.replaceAll("\\.r[qu]$", ""), Fs.read(f)))
    }.toMap
    new Templates(Fs.read(dir.resolve("prefixes.rq")), groups)
  }
}
