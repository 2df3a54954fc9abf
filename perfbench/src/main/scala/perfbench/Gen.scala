package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Pure functions of the seed: the same seed gives
  * byte-identical CSV text, documents and SQL. Each generator also returns
  * the expected outcomes the correctness checks compare against, so no check
  * depends on the program computing its own reference.
  */
object Gen {

  // ---- price lists (ingest_files, ingest_bulk) ------------------------------

  /** A provider as the merge layer keys it: `key` is lower(rtrim(clean name)). */
  final case class Provider(id: Int, name: String, seeded: Boolean, synonyms: Seq[String]) {
    def key: String = name.toLowerCase
  }

  /** One price-list file and what ingesting it must add. Provider identities
    * are canonical names (synonyms already resolved); products are their
    * normalized description keys.
    */
  final case class PriceFile(name: String, csv: String, rows: Int,
      providers: Set[String], products: Set[String], pairs: Set[(String, String)])

  final case class PriceLists(providers: Seq[Provider], units: Seq[(Int, String, String)],
      unitAcronyms: Seq[(Int, String, Int)], files: Seq[PriceFile])

  private val providerKinds = Seq("Distribuidora", "Comercial", "Importadora", "Almacen",
    "Abastecedora", "Proveedora", "Mayorista", "Suministros")
  private val surnames = Seq("Serrano", "Gutierrez", "Rojas", "Mora", "Vargas", "Jimenez",
    "Castro", "Solis", "Araya", "Quesada", "Chaves", "Alfaro", "Brenes", "Calderon",
    "Esquivel", "Fallas", "Granados", "Leiva", "Madrigal", "Navarro")
  private val items = Seq("Arroz", "Frijoles", "Aceite", "Azucar", "Cafe", "Harina", "Leche",
    "Atun", "Sal", "Pasta", "Salsa", "Galletas", "Jabon", "Detergente", "Avena", "Maiz",
    "Te", "Vinagre", "Mantequilla", "Queso")
  private val brands = Seq("Tio Pelon", "Sabemas", "Clover", "Dos Pinos", "Britt", "Numar",
    "Lizano", "Pozuelo", "Irex", "Suli", "Maggi", "Kerns", "Roma", "Gallito", "Ideal")
  private val variants = Seq("Clasico", "Integral", "Light", "Premium", "Original",
    "Extra", "Selecto", "Natural", "Familiar", "Especial")
  // measure/unit forms as real lists write them; acronyms resolve via lookups
  private val unitForms = Seq("kg", "g", "gr", "ml", "l", "lt", "kgs", "cc", "oz", "lb")
  // file `i` has header `i % 4`: every seed meets the variants in the same
  // order, and the first four files hold one of each
  private val headers = Seq(
    "Producto,Fecha 1,Provedor,Precio,IVA",
    "Producto,Fecha,Provedor,Precio,Porcentaje de IVA",
    "Producto,Fecha,Provedor,Precio",
    "Producto,Fecha 1,Provedor,Precio,,,")
  def headerVariants: Int = headers.size

  /** Product description for catalog index `i`: distinct indexes give
    * distinct keys (the index is spelled into the description).
    */
  def productDescription(i: Int, r: Random): String = {
    val item = items(i % items.size)
    val brand = brands((i / items.size) % brands.size)
    val v = variants((i / (items.size * brands.size)) % variants.size)
    val measure = r.nextInt(4) match {
      case 0 => s"${1 + r.nextInt(5)} ${unitForms(r.nextInt(unitForms.size))}"
      case 1 => s"${50 * (1 + r.nextInt(20))}${unitForms(r.nextInt(unitForms.size))}"
      case 2 => s"${1 + r.nextInt(3)}.${r.nextInt(10)} ${unitForms(r.nextInt(unitForms.size))}"
      case _ => s"${100 * (1 + r.nextInt(9))} ${unitForms(r.nextInt(unitForms.size))} x ${2 + r.nextInt(23)}"
    }
    val iva = if (r.nextInt(3) == 0) s" (G ${Seq(1, 2, 4, 13)(r.nextInt(4))})" else ""
    s"$item $brand $v Ref$i $measure$iva"
  }

  private def surfaceCase(s: String, r: Random): String = r.nextInt(6) match {
    case 0 => s.toUpperCase
    case 1 => s.toLowerCase
    case _ => s
  }

  /** Variants that normalize back to the same key: case, trailing blanks,
    * stray punctuation (provider names lose it in cleaning).
    */
  private def providerSurface(p: Provider, r: Random): String = {
    if (p.synonyms.nonEmpty && r.nextInt(4) == 0) return p.synonyms(r.nextInt(p.synonyms.size))
    val base = surfaceCase(p.name, r)
    r.nextInt(5) match {
      case 0 => base + "  "
      case 1 => base + "."
      case _ => base
    }
  }

  private def price(r: Random): String = {
    val v = 250 + r.nextInt(40000)
    r.nextInt(3) match {
      case 0 => f"$$ ${v / 1000}%d.${v % 1000}%03d"
      case 1 => v.toString
      case _ => f"${v / 1000}%d.${v % 1000}%03d,00"
    }
  }

  private def date(r: Random): String = {
    val (y, m, d) = (2023 + r.nextInt(2), 1 + r.nextInt(12), 1 + r.nextInt(28))
    r.nextInt(3) match {
      case 0 => f"$y%04d-$m%02d-$d%02d"
      case 1 => f"$d%02d/$m%02d/$y%04d"
      case _ => f"$m%02d/$d%02d/$y%04d"
    }
  }

  private def quote(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** `nFiles` price lists; file `i` has `sizes(i % sizes.size)` rows (a fixed
    * ladder, so runs that ingest the same number of files ingest the same
    * number of rows whatever the seed). Products come from a
    * skewed (Zipf-like) catalog of `catalog` entries; `newShare` of each
    * file's rows instead name a product never listed before, so later files
    * of a small-file workload mostly hit MERGE's update path while a bulk
    * workload keeps inserting.
    */
  def priceLists(seed: Long, nFiles: Int, sizes: Seq[Int], catalog: Int,
      newShare: Double, prefix: String): PriceLists = {
    val r = new Random(seed)
    val providers = (0 until 40).map { i =>
      val name = s"${providerKinds(i % providerKinds.size)} ${surnames((i * 7 + i / 8) % surnames.size)}"
      val seeded = i < 12
      val syn = if (seeded) Seq(s"${surnames((i * 7 + i / 8) % surnames.size)} Hnos $i") else Nil
      Provider(i + 1, name, seeded, syn)
    }
    require(providers.map(_.key).distinct.size == providers.size, "provider names collide")
    val units = Seq((1, "kg", "Kilogramo"), (2, "g", "Gramo"), (3, "ml", "Mililitro"),
      (4, "l", "Litro"))
    val acronyms = Seq((1, "kgs", 1), (2, "gr", 2), (3, "lt", 4), (4, "cc", 3))
    // Zipf-like skew: the cumulative weights of 1/(rank+1)
    val cum = (0 until catalog).scanLeft(0.0)((a, i) => a + 1.0 / (i + 1)).tail.toArray
    def skewed(): Int = {
      val x = r.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, x)
      if (i >= 0) i else -i - 1
    }
    var nextNew = catalog
    val descOf = mutable.HashMap[Int, String]()
    def desc(i: Int): String = descOf.getOrElseUpdate(i, productDescription(i, new Random(seed * 31 + i)))
    val files = (0 until nFiles).map { f =>
      val rows = sizes(f % sizes.size)
      val header = headers(f % headers.size)
      val cols = header.split(",", -1).length
      val sb = new java.lang.StringBuilder(rows * 80).append(header).append('\n')
      val provs = mutable.HashSet[String](); val prods = mutable.HashSet[String]()
      val pairs = mutable.HashSet[(String, String)]()
      var i = 0
      while (i < rows) {
        val pi = if (r.nextInt(3) == 0) r.nextInt(providers.size) else r.nextInt(8)
        val p = providers(pi)
        val idx = if (r.nextDouble() < newShare) { nextNew += 1; nextNew - 1 } else skewed()
        val d = desc(idx)
        val cell = surfaceCase(d, r) + (if (r.nextInt(6) == 0) "  " else "")
        sb.append(quote(cell)).append(',').append(date(r)).append(',')
          .append(quote(providerSurface(p, r))).append(',').append(quote(price(r)))
        if (cols == 5) sb.append(',').append(Seq(1, 2, 4, 13)(r.nextInt(4)))
        else if (cols > 5) sb.append(",,,")
        sb.append('\n')
        provs += p.key; prods += d.toLowerCase; pairs += (p.key -> d.toLowerCase)
        i += 1
      }
      PriceFile(f"$prefix-$f%05d.csv", sb.toString, rows, provs.toSet, prods.toSet, pairs.toSet)
    }
    PriceLists(providers, units, acronyms, files)
  }

  /** Expected dimension sizes after ingesting `files` (each once): the
    * seeded providers plus every provider named, the distinct product keys,
    * and the distinct (provider, product) pairs.
    */
  def expectedDims(pl: PriceLists, files: Seq[PriceFile]): (Long, Long, Long) = {
    val named = files.flatMap(_.providers).toSet
    val seeded = pl.providers.filter(_.seeded).map(_.key).toSet
    ((seeded ++ named).size.toLong, files.flatMap(_.products).toSet.size.toLong,
      files.flatMap(_.pairs).toSet.size.toLong)
  }

  // ---- document corpus with planted near-duplicates (dedup_stream) ---------

  final case class Doc(id: Long, text: String)
  final case class Corpus(batches: Seq[Seq[Doc]], planted: Seq[(Long, Long, Double)])

  private def word(r: Random): String = {
    val n = 3 + r.nextInt(6)
    (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new Random(seed ^ 0x5eed)
    Iterator.continually(word(r)).distinct.take(n).toIndexedSeq
  }

  /** Distinct character k-shingles, the set the program's MinHash and
    * Jaccard verification read (ASCII text, so chars = code points).
    */
  def shingles(s: String, k: Int = 5): Set[String] =
    if (s.length < k) Set.empty else (0 to s.length - k).map(i => s.substring(i, i + k)).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    if (x.isEmpty && y.isEmpty) 0.0 else (x intersect y).size.toDouble / (x union y).size
  }

  /** `nBatches` batches of `batchDocs` documents. A share of documents start
    * a family whose members are edits of the original at rates chosen to
    * land on both sides of the Jaccard threshold; a member goes into the
    * original's batch or one of the next few.
    */
  def corpus(seed: Long, nBatches: Int, batchDocs: Int): Corpus = {
    val r = new Random(seed)
    val vocab = vocabulary(seed, 20000)
    def fresh(): Vector[String] = Vector.fill(30 + r.nextInt(40))(vocab(r.nextInt(vocab.size)))
    def edit(ws: Vector[String], rate: Double): Vector[String] =
      ws.map(w => if (r.nextDouble() < rate) vocab(r.nextInt(vocab.size)) else w)
    val rates = Seq(0.03, 0.08, 0.15, 0.25, 0.4)
    val slots = Array.fill(nBatches)(mutable.ArrayBuffer[Doc]())
    val planted = mutable.ArrayBuffer[(Long, Long, Double)]()
    var id = 0L
    var b = 0
    while (b < nBatches) {
      while (slots(b).size < batchDocs) {
        id += 1
        val ws = fresh()
        val orig = Doc(id, ws.mkString(" "))
        slots(b) += orig
        if (r.nextInt(8) == 0) {
          val members = (0 until 1 + r.nextInt(3)).map { _ =>
            id += 1
            Doc(id, edit(ws, rates(r.nextInt(rates.size))).mkString(" "))
          }
          members.foreach { m =>
            val tb = math.min(nBatches - 1, b + (if (r.nextInt(3) == 0) 0 else 1 + r.nextInt(3)))
            slots(tb) += m
          }
          val fam = orig +: members
          for (i <- fam.indices; j <- i + 1 until fam.size)
            planted += ((fam(i).id, fam(j).id, jaccard(fam(i).text, fam(j).text)))
        }
      }
      b += 1
    }
    Corpus(slots.map(_.toSeq).toSeq, planted.toSeq)
  }

  // ---- corpus + DML script + queries (corpus_sync) -------------------------

  final case class Stmt(kind: String, sql: String, rows: Int)
  final case class SyncScript(initial: Seq[Doc], stmts: Seq[Stmt],
      queries: Seq[Seq[(Long, String)]], states: Seq[Map[Long, String]])

  /** The initial corpus, `nCycles` DML statements rotating UPDATE (text
    * edit) / scattered DELETE / upserting MERGE / INSERT, one query batch per
    * cycle, and the live corpus after each statement (the oracle the end
    * check compares the table against).
    */
  def syncScript(seed: Long, table: String, initialDocs: Int, nCycles: Int,
      rowsPerStmt: Int, queriesPerBatch: Int): SyncScript = {
    val r = new Random(seed)
    val vocab = vocabulary(seed, 3000)
    def text(): String = Vector.fill(8 + r.nextInt(30))(vocab(r.nextInt(vocab.size))).mkString(" ")
    val initial = (1 to initialDocs).map(i => Doc(i.toLong, text()))
    var live = initial.map(d => d.id -> d.text).toMap
    var nextId = initialDocs.toLong
    def pickLive(n: Int): Seq[Long] = {
      val ids = live.keys.toVector.sorted
      r.shuffle(ids).take(n).sorted
    }
    def values(rows: Seq[(Long, String)]): String =
      rows.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    val stmts = mutable.ArrayBuffer[Stmt]()
    val states = mutable.ArrayBuffer[Map[Long, String]]()
    for (c <- 0 until nCycles) {
      val st = c % 4 match {
        case 0 =>
          val ids = pickLive(rowsPerStmt)
          val w = vocab(r.nextInt(vocab.size))
          live ++= ids.map(i => i -> s"${live(i)} $w")
          Stmt("update", s"UPDATE $table SET text = concat(text, ' $w') WHERE doc_id IN (${ids.mkString(", ")})", ids.size)
        case 1 =>
          val ids = pickLive(rowsPerStmt)
          live --= ids
          Stmt("delete", s"DELETE FROM $table WHERE doc_id IN (${ids.mkString(", ")})", ids.size)
        case 2 =>
          val upd = pickLive(rowsPerStmt / 2).map(i => i -> text())
          val ins = (1 to rowsPerStmt - upd.size).map { _ => nextId += 1; nextId -> text() }
          live ++= upd ++ ins
          val src = values(upd ++ ins)
          Stmt("merge",
            // the key is cast to the target's type: the catalog translates
            // MERGE only when its ON clause compares plain columns
            s"MERGE INTO $table t USING (SELECT CAST(doc_id AS BIGINT) AS doc_id, text " +
              s"FROM VALUES $src AS v(doc_id, text)) s " +
              "ON t.doc_id = s.doc_id WHEN MATCHED THEN UPDATE SET text = s.text " +
              "WHEN NOT MATCHED THEN INSERT (doc_id, text) VALUES (s.doc_id, s.text)",
            upd.size + ins.size)
        case _ =>
          val rows = (1 to rowsPerStmt).map { _ => nextId += 1; nextId -> text() }
          live ++= rows
          Stmt("insert", s"INSERT INTO $table VALUES ${values(rows)}", rows.size)
      }
      stmts += st
      states += live
    }
    val queries = (0 to nCycles).map { c =>
      (1 to queriesPerBatch).map { q =>
        (q.toLong, Vector.fill(2 + r.nextInt(2))(vocab(r.nextInt(vocab.size))).mkString(" "))
      }
    }
    SyncScript(initial, stmts.toSeq, queries, states.toSeq)
  }
}
