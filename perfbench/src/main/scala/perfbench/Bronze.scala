package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** One Bronze CSV and what landing it must report. */
final case class BronzeFile(path: Path, kind: String, rows: Long,
                            processed: Long, errors: Long, bytes: Long)

/** A landing set and the Silver entity counts it must leave. */
final case class BronzeSet(files: Seq[BronzeFile], empresas: Long,
                           conductores: Long, vehiculos: Long) {
  def rows: Long = files.map(_.rows).sum
  def bytes: Long = files.map(_.bytes).sum
}

/** Seeded generator of `empresas_*`, `conductores_*` and `vehiculos_*`
  * Bronze CSVs following FIXTURES.md: `;`-delimited, doubled-quote
  * escaped JSON children, a BOM on the first file's header, and a fixed
  * share of adversarial rows — invalid RUT check digits, RUTs with no
  * hyphen, unknown `carrier_bp`, duplicate keys within a file, one
  * ragged row and one absent JSON payload. It models the validation
  * rules independently of the engine and records, per file, the row,
  * processed and reject counts landing must report.
  *
  * Files come in `EtlRunner.processDirectory` order (empresa files
  * first, then the rest by name), followed by one replayed conductor
  * file and one update file that renames existing companies.
  */
object Bronze {
  final case class Sizes(empresaFiles: Int, empresas: Int, conductorFiles: Int,
                         conductores: Int, vehiculoFiles: Int, vehiculos: Int)

  private val Bom = "﻿"
  private val roles = Array("Conductor", "Peoneta", "Supervisor")
  private val carrierTypes = Array("Spot", "Licitada")
  private val makes = Array("VOLVO" -> "FH", "SCANIA" -> "R450", "MERCEDES" -> "ACTROS",
    "VOLVO" -> "FM", "IVECO" -> "STRALIS")
  private val comunas = Array("SANTIAGO", "MAIPU", "PROVIDENCIA", "PUDAHUEL", "QUILICURA")

  /** Mod-11 check character of a RUT body. */
  def checkDigit(body: Long): Char = {
    var sum = 0L; var mult = 2; var b = body
    while (b > 0) { sum += (b % 10) * mult; mult = if (mult == 7) 2 else mult + 1; b /= 10 }
    (11 - sum % 11) match { case 11 => '0'; case 10 => 'K'; case d => ('0' + d).toChar }
  }

  private def dotted(body: Long): String =
    body.toString.reverse.grouped(3).mkString(".").reverse

  /** A RUT as landed; `kind` 0 = valid, 1 = wrong check digit, 2 = no hyphen. */
  private def rut(r: Random, body: Long, kind: Int): String = {
    val dv = checkDigit(body)
    kind match {
      case 0 => if (r.nextBoolean()) s"${dotted(body)}-$dv" else s"$body-$dv"
      case 1 =>
        val wrong = "0123456789K".filter(_ != dv)(r.nextInt(10))
        s"$body-$wrong"
      case _ => s"$body$dv"
    }
  }

  private def q(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  private def date(r: Random): String =
    f"${1 + r.nextInt(28)}%02d-${1 + r.nextInt(12)}%02d-${2019 + r.nextInt(7)}"

  private def hojaVida(r: Random): String = {
    def restr = s"""{"fechaAnotacion":"${date(r)}","bloqueRestriccionLicencia":"LENTES"}"""
    def infr = s"""{"procesoNumero":"P-${r.nextInt(999)}","tribunal":"JPL STGO",""" +
      s""""fechaDenuncia":"2019-05-06","infraccion":"EXCESO VELOCIDAD","resolucion":"MULTA"}"""
    s"""{"certificado":{"folio":"F${r.nextInt(99999)}","fechaEmision":"${date(r)}, 09:21",""" +
      s""""codigoVerificacion":"CV${r.nextInt(99)}"},"persona":{"comuna":"${comunas(r.nextInt(comunas.length))}",""" +
      s""""domicilio":"CALLE ${r.nextInt(99)} #${r.nextInt(999)}",""" +
      s""""restriccionesLicencia":[${Seq.fill(r.nextInt(3))(restr).mkString(",")}],""" +
      s""""duracionesRestringidas":[{"fechaAnotacion":"${date(r)}","bloqueDuracionRestringida":"2 ANOS"}],""" +
      s""""infraccionesRegistradas":[${Seq.fill(r.nextInt(2))(infr).mkString(",")}]}}"""
  }

  private def write(path: Path, header: String, lines: Seq[String], bom: Boolean): Long = {
    val body = (if (bom) Bom else "") + (header +: lines).mkString("", "\n", "\n")
    Files.write(path, body.getBytes(UTF_8))
    Files.size(path)
  }

  def generate(dir: Path, seed: Long, s: Sizes): BronzeSet = {
    Files.createDirectories(dir)
    val r = new Random(seed)
    val out = mutable.ArrayBuffer.empty[BronzeFile]
    val carriers = mutable.LinkedHashSet.empty[String] // accepted carrier_bp
    val drivers = mutable.Set.empty[Long] // accepted RUT bodies
    val plates = mutable.LinkedHashSet.empty[String]
    var nextBp = 1000000L + r.nextInt(1000) * 1000L
    var nextBody = 10000000L + r.nextInt(5000000)
    var nextPlate = r.nextInt(100000)
    // row i's kind, 0..24 in a fixed cycle: the lowest values pick the
    // reject kinds below, so each kind is a fixed share of every file
    def bad(i: Int): Int = (i * 7 + 3) % 25

    // ── empresas ──
    for (f <- 0 until s.empresaFiles) {
      val rows = (0 until s.empresas).map { i =>
        val b = bad(i)
        val bp =
          if (b == 3 && carriers.nonEmpty) carriers.toSeq(r.nextInt(carriers.size)) // update
          else { nextBp += 1 + r.nextInt(7); nextBp.toString }
        val body = 5000000L + r.nextInt(20000000)
        val (tin, ok, bpField) = b match {
          case 0 => (rut(r, body, 1), false, bp)
          case 1 => (rut(r, body, 2), false, bp)
          case 2 => (rut(r, body, 0), false, "")
          case _ => (rut(r, body, 0), true, bp)
        }
        if (ok) carriers += bp
        (s"$bpField;EMPRESA  ${bp}  SPA;${q(tin)};${carrierTypes(r.nextInt(2))}", ok)
      }
      val errs = rows.count(!_._2).toLong
      // a duplicate key within the file: the last row wins, both count
      // as processed
      val all = rows.map(_._1) :+ rows.filter(_._2).last._1.replace("SPA", "LTDA")
      val p = dir.resolve(f"empresas_202501${f + 1}%02d.csv")
      val bytes = write(p, "carrier_bp;carrier_name;carrier_tin;carrier_type", all, bom = f == 0)
      out += BronzeFile(p, "empresa", all.length, all.length - errs, errs, bytes)
    }

    val carrierSeq = carriers.toIndexedSeq

    // ── conductores ──
    def conductorLine(i: Int, body: Long, carrier: String, rutKind: Int,
                      payload: Boolean): String = {
      val role = roles(r.nextInt(roles.length))
      val hv = if (payload) q(hojaVida(r)) else ""
      val lic = q(s"""{"clase":["A2","B"],"municipalidad":"${comunas(r.nextInt(comunas.length))}",""" +
        s""""fecha_de_control":"${date(r)}","fecha_ultimo_control":"${date(r)}"}""")
      s"CONDUCTOR  $i;${q(rut(r, body, rutKind))};${date(r)};+5691234${r.nextInt(9999)};" +
        s"c$i@mail.cl;$carrier;$role;$hv;$lic;${q(s"""{"codigo":"XYZ-${r.nextInt(99)}"}""")}"
    }
    val conductorHeader = "driver_name;national_id;birth_date;phone_number;email;" +
      "carrier_bp;driver_role;hoja_de_vida_data;licencia_frontal_data;licencia_reverso_data"
    val conductorFiles = mutable.ArrayBuffer.empty[BronzeFile]
    for (f <- 0 until s.conductorFiles) {
      var errs = 0L
      val lines = mutable.ArrayBuffer.empty[String]
      (0 until s.conductores).foreach { i =>
        nextBody += 1 + r.nextInt(50)
        val body = nextBody
        val carrier = carrierSeq(r.nextInt(carrierSeq.size))
        bad(i + f) match {
          case 0 => errs += 1; lines += conductorLine(i, body, carrier, 1, payload = true)
          case 1 => errs += 1; lines += conductorLine(i, body, carrier, 2, payload = true)
          case 2 => errs += 1; lines += conductorLine(i, body, "9" + carrier, 0, payload = true)
          case b =>
            drivers += body
            // one absent JSON payload per file: row lands, no children
            lines += conductorLine(i, body, carrier, 0, payload = i != 5)
            if (b == 4) lines += conductorLine(i, body, carrier, 0, payload = true) // dup key
        }
      }
      if (f == 0) { // one ragged row (trailing columns missing) → rejected as corrupt
        errs += 1
        lines += s"CONDUCTOR RAGGED;${q(rut(r, 9000000L, 0))};01-01-1990"
      }
      val p = dir.resolve(f"conductores_202501${f + 1}%02d.csv")
      val bytes = write(p, conductorHeader, lines.toSeq, bom = false)
      conductorFiles += BronzeFile(p, "conductor", lines.length, lines.length - errs, errs, bytes)
    }

    // ── vehiculos ──
    val vehiculoHeader = graft.etl.BronzeSchemas.vehiculo.fieldNames.mkString(";")
    val statuses = Array("Aprobada", "Rechazada", "No Aplica")
    def vehiculoLine(plate: String, carrier: String): String = {
      val (make, model) = makes(r.nextInt(makes.length))
      val st = Seq.fill(12)(statuses(r.nextInt(3)))
      (Seq(plate, carrier, (2005 + r.nextInt(20)).toString, Seq("true", "si", "false")(r.nextInt(3)),
        s"E${r.nextInt(999999)}", s"C${r.nextInt(999999)}", s"VIN${r.nextInt(99999999)}",
        (r.nextInt(900000)).toString, "LONA", date(r), "CAMION", "RAMPLA", "verdadero",
        (math.round(100 + r.nextDouble() * 200) / 10.0).toString, "12.5", "2.6", "4.1", "A", (20 + r.nextInt(10)).toString,
        make, model, date(r), date(r)) ++ st ++ Seq(
        q(s"""{"municipalidad":"${comunas(r.nextInt(comunas.length))}","fecha_emision":"${date(r)}","fecha_vencimiento":"${date(r)}"}"""),
        q(s"""{"folio":"CAV-${r.nextInt(99)}","codigo_verificacion":"K2","fecha_emision":"${date(r)}",""" +
          s""""limitaciones_al_dominio":"NINGUNA","datos_propietario_actual":{"nombre":"EMPRESA $carrier",""" +
          s""""rut":"11111111-1","fecha_adquisicion":"10-10-2020"}}"""),
        q(s"""{"numero_poliza":${1 + r.nextInt(999999999)},"institucion_aseguradora":"ASEG ${r.nextInt(9)}","fecha_vencimiento_poliza":"${date(r)}"}""")))
        .mkString(";")
    }
    val vehiculoFiles = mutable.ArrayBuffer.empty[BronzeFile]
    for (f <- 0 until s.vehiculoFiles) {
      var errs = 0L
      val lines = mutable.ArrayBuffer.empty[String]
      (0 until s.vehiculos).foreach { i =>
        nextPlate += 1 + r.nextInt(9)
        val plate = f"P$nextPlate%06d"
        val carrier = carrierSeq(r.nextInt(carrierSeq.size))
        bad(i + 2 * f) match {
          case 0 => errs += 1; lines += vehiculoLine(plate, "9" + carrier)
          case 1 => errs += 1; lines += vehiculoLine("", carrier)
          case b =>
            plates += plate
            lines += vehiculoLine(plate, carrier)
            if (b == 4) lines += vehiculoLine(plate, carrier) // dup key
        }
      }
      if (f == 0) { errs += 1; lines += s"PRAGGED;${carrierSeq.head};2010" }
      val p = dir.resolve(f"vehiculos_202501${f + 1}%02d.csv")
      val bytes = write(p, vehiculoHeader, lines.toSeq, bom = false)
      vehiculoFiles += BronzeFile(p, "vehiculo", lines.length, lines.length - errs, errs, bytes)
    }

    // processDirectory order after the empresa files: by file name
    out ++= (conductorFiles ++ vehiculoFiles).sortBy(_.path.getFileName.toString)
    // the replay: the first conductor file re-delivered under its own name
    out += conductorFiles.head
    // the update: existing companies re-landed under new names
    val upd = carrierSeq.map(bp => s"$bp;EMPRESA $bp RENOMBRADA;${q(rut(r, 5000000L + r.nextInt(20000000), 0))};Spot")
    val up = dir.resolve("empresas_20250199_update.csv")
    val upBytes = write(up, "carrier_bp;carrier_name;carrier_tin;carrier_type", upd, bom = false)
    out += BronzeFile(up, "empresa", upd.length, upd.length, 0, upBytes)
    BronzeSet(out.toSeq, carriers.size, drivers.size, plates.size)
  }
}
