package graftbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Seeded generator for the engine workload's source "org": describe
  * JSONs, an `op.yml`, and one CSV per sObject.
  *
  * The graph is Region ← Nation ← Account (self-FK `ParentId`) ←
  * Opportunity ← LineItem. Inside each block of 200 consecutive account
  * keys, accounts form `depth`-long `ParentId` chains: key
  * `200q + depth*g + j` has parent `key - 1` when `j > 0`. The slice seeds
  * the chain roots with `Key__c % 200 = depth*g`; the self-FK fixpoint then
  * walks `depth - 1` levels down, so every seed gives a slice of the same
  * size and the same number of fixpoint passes.
  *
  * The seed picks `g` (the slice's residue class) and the row order of
  * every CSV; everything else is a function of the key, so the same seed
  * gives byte-identical inputs.
  */
final case class GraphSpec(accounts: Int, oppsPerAccount: Int, depth: Int) {
  require(accounts % 200 == 0 && 200 % depth == 0)

  val regions = 5
  val nations = 25
  def opps: Int = accounts * oppsPerAccount
  /** Opportunity `o` has `1 + o % 5` line items. */
  def linesOf(o: Int): Int = 1 + o % 5

  def residue(seed: Long): Int =
    depth * (new java.util.Random(seed).nextInt(200 / depth))

  def parent(k: Int): Int = if (k % 200 % depth == 0) -1 else k - 1

  /** Account keys in the slice: the chains rooted at the seeded residue
    * class, computed from the generator's own parent rule with a plain
    * fixpoint (roots, then any account whose parent is already in).
    */
  def expectedAccounts(seed: Long): Set[Int] = {
    val r = residue(seed)
    var set = (0 until accounts).filter(_ % 200 == r).toSet
    var grew = true
    while (grew) {
      val next = set ++ (0 until accounts).filter(k => parent(k) >= 0 && set(parent(k)))
      grew = next.size > set.size
      set = next
    }
    set
  }

  /** Expected row counts per sObject for the extract at `seed`. */
  def expectedCounts(seed: Long): Map[String, Long] = {
    val acc = expectedAccounts(seed)
    val oppIds = (0 until opps).filter(o => acc(o / oppsPerAccount))
    Map(
      "Region" -> regions.toLong, "Nation" -> nations.toLong,
      "Account" -> acc.size.toLong, "Opportunity" -> oppIds.size.toLong,
      "LineItem" -> oppIds.iterator.map(linesOf(_).toLong).sum)
  }
}

object Graph {
  val Tables: Seq[String] = Seq("Region", "Nation", "Account", "Opportunity", "LineItem")
  private val Prefix = Map("Region" -> "a00", "Nation" -> "a01", "Account" -> "001",
    "Opportunity" -> "006", "LineItem" -> "00k")
  private val B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

  /** 15-char Salesforce id: 3-char key prefix + 12 base-62 digits. */
  def id(table: String, n: Long): String = {
    val sb = new Array[Char](12)
    var v = n; var i = 11
    while (i >= 0) { sb(i) = B62((v % 62).toInt); v /= 62; i -= 1 }
    Prefix(table) + new String(sb)
  }

  private def field(name: String, tpe: String, refTo: Option[String] = None): String = {
    val soap = tpe match {
      case "id" | "reference" => "tns:ID"
      case "double" => "xsd:double"
      case _ => "xsd:string"
    }
    val writable = tpe != "id"
    s"""{"name": "$name", "type": "$tpe", "soapType": "$soap", """ +
      s""""referenceTo": [${refTo.map(r => "\"" + r + "\"").getOrElse("")}], """ +
      s""""createable": $writable, "updateable": $writable}"""
  }

  private val Describes: Seq[(String, Seq[String])] = Seq(
    "Region" -> Seq(field("Id", "id"), field("Name", "string")),
    "Nation" -> Seq(field("Id", "id"), field("Name", "string"),
      field("RegionId__c", "reference", Some("Region"))),
    "Account" -> Seq(field("Id", "id"), field("Name", "string"),
      field("Key__c", "double"), field("ParentId", "reference", Some("Account")),
      field("NationId__c", "reference", Some("Nation"))),
    "Opportunity" -> Seq(field("Id", "id"), field("Name", "string"),
      field("AccountId", "reference", Some("Account")), field("Amount", "double"),
      field("StageName", "string")),
    "LineItem" -> Seq(field("Id", "id"),
      field("OpportunityId", "reference", Some("Opportunity")),
      field("LineNumber__c", "double"), field("Quantity__c", "double"),
      field("UnitPrice__c", "double")))

  def writeDescribes(dir: File): Unit = {
    dir.mkdirs()
    Describes.foreach { case (t, fields) =>
      Files.writeString(new File(dir, s"$t.json").toPath,
        s"""{"name": "$t", "keyPrefix": "${Prefix(t)}", "fields": [\n  """ +
          fields.mkString(",\n  ") + "\n]}\n")
    }
  }

  def opYaml(spec: GraphSpec, seed: Long): String =
    s"""version: 1
       |operation:
       |  - sobject: Region
       |    field-group: readable
       |    extract:
       |      all: True
       |  - sobject: Nation
       |    field-group: readable
       |    extract:
       |      all: True
       |  - sobject: Account
       |    field-group: readable
       |    extract:
       |      query: "Key__c % 200 = ${spec.residue(seed)}"
       |  - sobject: Opportunity
       |    field-group: readable
       |    extract:
       |      descendents: True
       |  - sobject: LineItem
       |    field-group: readable
       |    extract:
       |      descendents: True
       |""".stripMargin

  private val Stages = Array("Prospecting", "Qualification", "Proposal", "Closed Won", "Closed Lost")

  /** Writes `describes/`, `op.yml` and `src/<Table>.csv` under `root`. */
  def write(root: File, spec: GraphSpec, seed: Long): Unit = {
    writeDescribes(new File(root, "describes"))
    Files.writeString(new File(root, "op.yml").toPath, opYaml(spec, seed))
    val src = new File(root, "src"); src.mkdirs()
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    def csv(table: String, header: String, n: Int)(row: Int => String): Unit = {
      // Seeded row order: a Fisher-Yates permutation of the row indexes.
      val order = Array.tabulate(n)(identity)
      var i = n - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
        i -= 1
      }
      val w: BufferedWriter = Files.newBufferedWriter(
        new File(src, s"$table.csv").toPath, StandardCharsets.UTF_8)
      try {
        w.write(header); w.newLine()
        order.foreach { k => w.write(row(k)); w.newLine() }
      } finally w.close()
    }
    csv("Region", "Id,Name", spec.regions)(r => s"${id("Region", r)},Region $r")
    csv("Nation", "Id,Name,RegionId__c", spec.nations)(n =>
      s"${id("Nation", n)},Nation $n,${id("Region", n % spec.regions)}")
    csv("Account", "Id,Name,Key__c,ParentId,NationId__c", spec.accounts) { k =>
      val parent = if (spec.parent(k) < 0) "" else id("Account", spec.parent(k))
      s"${id("Account", k)},Account $k,$k,$parent,${id("Nation", k % spec.nations)}"
    }
    csv("Opportunity", "Id,Name,AccountId,Amount,StageName", spec.opps) { o =>
      s"${id("Opportunity", o)},Opportunity $o,${id("Account", o / spec.oppsPerAccount)}," +
        s"${(o * 7919L % 1000000) / 100.0},${Stages(o % Stages.length)}"
    }
    // Line items are numbered densely in opportunity order, so every
    // (opportunity, line) pair has its own id.
    val firstLine = new Array[Long](spec.opps + 1)
    (0 until spec.opps).foreach(o => firstLine(o + 1) = firstLine(o) + spec.linesOf(o))
    val lineOpp = new Array[Int](firstLine(spec.opps).toInt)
    (0 until spec.opps).foreach { o =>
      var l = firstLine(o)
      while (l < firstLine(o + 1)) { lineOpp(l.toInt) = o; l += 1 }
    }
    csv("LineItem", "Id,OpportunityId,LineNumber__c,Quantity__c,UnitPrice__c",
      lineOpp.length) { l =>
      val o = lineOpp(l)
      s"${id("LineItem", l)},${id("Opportunity", o)},${l - firstLine(o) + 1}," +
        s"${1 + l % 50},${(l * 104729L % 100000) / 100.0}"
    }
  }
}
