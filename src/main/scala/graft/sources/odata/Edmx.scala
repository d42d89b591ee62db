package graft.sources.odata

import org.apache.spark.sql.types._
import scala.xml.{Elem, Node, XML}

/** EDMX (`$metadata`) object model + parser for OData v2 and v4 dialects.
  *
  * Mirrors the behavior of the reference's EDM layer
  * (erpl-web `src/include/odata_edm.hpp:25-1852`): entity types with
  * properties and navigation properties, complex types flattened to nested
  * structs, enums mapped to strings, `Collection(T)` to arrays, and the
  * primitive matrix of SURVEY.md §1.2 including the reference's
  * DECIMAL(p,s) clamping (`odata_edm.hpp:2111-2118`).
  *
  * v2 markers handled: `Edm.DateTime`/`Edm.Time`, associations expressed via
  * `Relationship` attributes on NavigationProperty (v2) vs `Type`/`Partner`
  * attributes (v4), and the `m:DataServiceVersion` namespace.
  */
final case class EdmProperty(name: String, edmType: String, nullable: Boolean)
final case class EdmNavProperty(name: String, targetType: String, toMany: Boolean)
final case class EdmEntityType(
    name: String, keys: Seq[String],
    properties: Seq[EdmProperty], navProperties: Seq[EdmNavProperty])
final case class EdmComplexType(name: String, properties: Seq[EdmProperty])
final case class EdmEnumType(name: String, members: Seq[String])
final case class EdmEntitySet(name: String, entityTypeName: String)
final case class EdmModel(
    version: String, // "2.0" | "4.0"
    namespace: String,
    entityTypes: Map[String, EdmEntityType],
    complexTypes: Map[String, EdmComplexType],
    enumTypes: Map[String, EdmEnumType],
    entitySets: Seq[EdmEntitySet]) {

  private def stripNs(t: String): String = t.split('.').last

  /** Spark schema of one entity type, expanding complex-typed properties into
    * nested structs and enum-typed properties into strings. Entity, set and
    * navigation type names are held without their namespace ([[EdmxParser]]
    * strips it). */
  def schemaOf(entityTypeName: String): StructType = structOf(entityTypes(entityTypeName))

  private def structOf(et: EdmEntityType): StructType =
    StructType(et.properties.map(p => StructField(p.name, resolveType(p.edmType), p.nullable)))

  /** The entity type of entity set `setName`; fails naming a set the model
    * does not hold. */
  def entityTypeOf(setName: String): EdmEntityType = entityTypes(
    entitySets.find(_.name == setName)
      .getOrElse(throw new NoSuchElementException(s"entity set $setName")).entityTypeName)

  def schemaOfSet(setName: String): StructType = structOf(entityTypeOf(setName))

  /** Schema with chosen navigation properties expanded as nested columns:
    * to-one → struct, to-many → array<struct> (SURVEY.md §1.2 expand rule).
    * Nested `A/B` paths and per-expand `$select` narrow the inner structs
    * recursively (reference `odata_expand_parser.hpp:10-32`). */
  def schemaWithExpand(setName: String, expand: Seq[String]): StructType =
    schemaWithExpandSpecs(setName, expand.map(ExpandSpec.parse))

  def schemaWithExpandSpecs(setName: String, specs: Seq[ExpandSpec]): StructType = {
    val et = entityTypeOf(setName)
    StructType(structOf(et).fields ++ specs.map(expandField(et, _)))
  }

  private def expandField(et: EdmEntityType, spec: ExpandSpec): StructField = {
    val nav = et.navProperties.find(_.name == spec.nav)
      .getOrElse(throw new NoSuchElementException(s"nav property ${spec.nav} on ${et.name}"))
    val targetEt = entityTypes(nav.targetType)
    var inner = structOf(targetEt)
    spec.options.get("$select").foreach { sel =>
      val keep = sel.split(",").map(_.trim).filter(_.nonEmpty).toSet
      inner = StructType(inner.fields.filter(f => keep.contains(f.name)))
    }
    val withSub = StructType(inner.fields ++ spec.sub.map(expandField(targetEt, _)))
    StructField(nav.name, if (nav.toMany) ArrayType(withSub) else withSub, nullable = true)
  }

  def resolveType(edmType: String): DataType = {
    val coll = EdmTypes.CollectionRe.findFirstMatchIn(edmType)
    coll match {
      case Some(m) => ArrayType(resolveType(m.group(1)))
      case None =>
        val short = stripNs(edmType)
        if (complexTypes.contains(short))
          StructType(complexTypes(short).properties
            .map(p => StructField(p.name, resolveType(p.edmType), p.nullable)))
        else if (enumTypes.contains(short)) StringType // no Spark enum; member set kept in model
        else if (entityTypes.contains(short)) structOf(entityTypes(short))
        else EdmTypes.primitive(edmType)
    }
  }
}

/** One parsed `$expand` path: navigation property, nested sub-expands
  * (`A/B` slash paths or `$expand=` inside the option list), and per-expand
  * query options (`A($select=x;$top=2)`) — the structure of the reference's
  * `ODataExpandParser::ExpandPath` (`odata_expand_parser.hpp:10-32`). */
final case class ExpandSpec(nav: String, sub: Seq[ExpandSpec] = Seq.empty,
                            options: Map[String, String] = Map.empty) {
  /** v4 rendering: options and sub-expands nest in parentheses. */
  def renderV4: String = {
    val opts = options.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" } ++
      (if (sub.nonEmpty) Seq(s"$$expand=${sub.map(_.renderV4).mkString(",")}") else Nil)
    if (opts.isEmpty) nav else s"$nav(${opts.mkString(";")})"
  }
  /** v2 rendering: slash paths, one per leaf (options are a v4 feature and
    * are dropped on the wire; the schema narrowing still applies). */
  def renderV2Paths: Seq[String] =
    if (sub.isEmpty) Seq(nav) else sub.flatMap(_.renderV2Paths).map(p => s"$nav/$p")
}

object ExpandSpec {
  /** Paren-aware top-level comma split: `A($select=x),B/C` → two specs. */
  def parseList(s: String): Seq[ExpandSpec] =
    splitList(s).map(parse)

  /** Raw top-level segments of a comma-joined expand option. */
  def splitList(s: String): Seq[String] =
    splitTop(s, ',').map(_.trim).filter(_.nonEmpty)

  def parse(one: String): ExpandSpec = {
    val s = one.trim
    val paren = topIndexOf(s, '(')
    val slash = topIndexOf(s, '/')
    if (slash >= 0 && (paren < 0 || slash < paren)) {
      // A/rest — nested path
      ExpandSpec(s.take(slash), Seq(parse(s.drop(slash + 1))))
    } else if (paren >= 0) {
      val nav = s.take(paren)
      val close = matchingParen(s, paren)
      val inside = s.substring(paren + 1, close)
      var sub = Seq.empty[ExpandSpec]
      var opts = Map.empty[String, String]
      splitTop(inside, ';').map(_.trim).filter(_.nonEmpty).foreach { part =>
        val eq = part.indexOf('=')
        val (k, v) = if (eq < 0) (part, "") else (part.take(eq).trim, part.drop(eq + 1).trim)
        if (k == "$expand") sub = sub ++ parseList(v) else opts += (k -> v)
      }
      // `A($top=2)/B` — trailing path after the options
      val rest = s.drop(close + 1)
      if (rest.startsWith("/")) sub = sub :+ parse(rest.drop(1))
      ExpandSpec(nav, sub, opts)
    } else ExpandSpec(s)
  }

  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    s.zipWithIndex.foreach { case (c, i) =>
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (c == sep && depth == 0) { out += s.substring(start, i); start = i + 1 }
    }
    out += s.substring(start)
    out.result()
  }

  private def topIndexOf(s: String, c: Char): Int = {
    var depth = 0
    s.zipWithIndex.foreach { case (ch, i) =>
      if (ch == '(') { if (c == '(' && depth == 0) return i; depth += 1 }
      else if (ch == ')') depth -= 1
      else if (ch == c && depth == 0) return i
    }
    -1
  }

  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0
    (open until s.length).foreach { i =>
      if (s(i) == '(') depth += 1
      else if (s(i) == ')') { depth -= 1; if (depth == 0) return i }
    }
    throw new IllegalArgumentException(s"unbalanced parens in expand: $s")
  }
}

object EdmTypes {
  val CollectionRe = "^Collection\\((.+)\\)$".r

  /** EDM primitive → Spark type (SURVEY.md §1.2 matrix; reference
    * `odata_edm.hpp:2057-2096`). Unknown types fall back to string, like the
    * reference (`:2092-2094`). */
  def primitive(edmType: String): DataType = edmType match {
    case "Edm.Binary" | "Edm.Stream"  => BinaryType
    case "Edm.Boolean"                => BooleanType
    case "Edm.Byte" | "Edm.SByte"     => ByteType
    case "Edm.Date"                   => DateType
    case "Edm.DateTime" | "Edm.DateTimeOffset" => TimestampType
    case d if d.startsWith("Edm.Decimal") => decimal(d)
    case "Edm.Double"                 => DoubleType
    case "Edm.Duration"               => DayTimeIntervalType()
    case "Edm.Guid"                   => StringType
    case "Edm.Int16"                  => ShortType
    case "Edm.Int32"                  => IntegerType
    case "Edm.Int64"                  => LongType
    case "Edm.Single"                 => FloatType
    case "Edm.String"                 => StringType
    // Spark has no TIME type; keep the ISO string (SURVEY §7.4 divergence)
    case "Edm.Time" | "Edm.TimeOfDay" => StringType
    case g if g.startsWith("Edm.Geography") || g.startsWith("Edm.Geometry") => StringType
    case _                            => StringType
  }

  private val DecimalArgsRe = """Edm\.Decimal\((\d+),(\d+)\)""".r

  /** DECIMAL with the reference's clamping: p into [1,38], s into [0,p],
    * default (18,0) (`odata_edm.hpp:2111-2118`). */
  def decimal(t: String, precision: Option[Int] = None, scale: Option[Int] = None): DecimalType = {
    val parsed = DecimalArgsRe.findFirstMatchIn(t)
    val p0 = precision.orElse(parsed.map(_.group(1).toInt)).getOrElse(18)
    val s0 = scale.orElse(parsed.map(_.group(2).toInt)).getOrElse(0)
    val p = math.max(1, math.min(38, p0))
    val s = math.max(0, math.min(p, s0))
    DecimalType(p, s)
  }
}

object EdmxParser {

  def parse(xml: String): EdmModel = parseElem(XML.loadString(xml))

  def parseElem(root: Elem): EdmModel = {
    val version = {
      val v = (root \ "@Version").text
      if (v.nonEmpty) v
      else {
        // v2 advertises via DataServices m:DataServiceVersion
        val ds = (root \ "DataServices").headOption
        ds.flatMap(_.attributes.asAttrMap.collectFirst {
          case (k, v2) if k.endsWith("DataServiceVersion") => v2
        }).getOrElse("2.0")
      }
    }
    val schemas = root \ "DataServices" \ "Schema"
    val namespace = schemas.headOption.map(s => (s \ "@Namespace").text).getOrElse("")

    def propsOf(n: Node): Seq[EdmProperty] = (n \ "Property").map { p =>
      val baseType = (p \ "@Type").text
      val fullType =
        if (baseType == "Edm.Decimal") {
          val prec = (p \ "@Precision").text
          val sc = (p \ "@Scale").text
          if (prec.nonEmpty || sc.nonEmpty) s"Edm.Decimal(${if (prec.isEmpty) "18" else prec},${if (sc.isEmpty) "0" else sc})"
          else baseType
        } else baseType
      EdmProperty((p \ "@Name").text, fullType,
        (p \ "@Nullable").text != "false")
    }

    val entityTypes = (schemas \ "EntityType").map { et =>
      val name = (et \ "@Name").text
      val keys = (et \ "Key" \ "PropertyRef").map(k => (k \ "@Name").text)
      val navs = (et \ "NavigationProperty").map { np =>
        val t = (np \ "@Type").text
        if (t.nonEmpty) {
          // v4: Type="Collection(ns.T)" or "ns.T"
          val m = EdmTypes.CollectionRe.findFirstMatchIn(t)
          m match {
            case Some(g) => EdmNavProperty((np \ "@Name").text, g.group(1).split('.').last, toMany = true)
            case None    => EdmNavProperty((np \ "@Name").text, t.split('.').last, toMany = false)
          }
        } else {
          // v2: Relationship + ToRole; resolve multiplicity via Association
          val toRole = (np \ "@ToRole").text
          val relName = (np \ "@Relationship").text.split('.').last
          val assoc = (schemas \ "Association").find(a => (a \ "@Name").text == relName)
          val end = assoc.toSeq.flatMap(a => a \ "End")
            .find(e => (e \ "@Role").text == toRole)
          val toMany = end.exists(e => (e \ "@Multiplicity").text == "*")
          val target = end.map(e => (e \ "@Type").text.split('.').last).getOrElse("")
          EdmNavProperty((np \ "@Name").text, target, toMany)
        }
      }
      name -> EdmEntityType(name, keys, propsOf(et), navs)
    }.toMap

    val complexTypes = (schemas \ "ComplexType").map { ct =>
      val name = (ct \ "@Name").text
      name -> EdmComplexType(name, propsOf(ct))
    }.toMap

    val enumTypes = (schemas \ "EnumType").map { en =>
      val name = (en \ "@Name").text
      name -> EdmEnumType(name, (en \ "Member").map(m => (m \ "@Name").text))
    }.toMap

    // entity sets live under EntityContainer in both dialects
    val entitySets = (schemas \ "EntityContainer" \ "EntitySet").map { es =>
      EdmEntitySet((es \ "@Name").text, (es \ "@EntityType").text.split('.').last)
    }

    EdmModel(version, namespace, entityTypes, complexTypes, enumTypes, entitySets)
  }
}
