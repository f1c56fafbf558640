package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.functions.{GraftFunctions => F}

/** Vehicles ETL (`services/vehiculo.ts:1-343`, SURVEY §2 B3/B6/C2/C3/
  * D1/D2/F4-F6/H3/H5). Requires empresa loaded first.
  *
  * Semantics mirrored:
  *  - reject when carrier_bp unknown or plate empty
  *    (`vehiculo.ts:116-131`);
  *  - four get-or-create dims, modelo keyed composite (brand_id, model)
  *    (`vehiculo.ts:134-176`) — rows with a missing dim value are
  *    rejected (the reference's NOT NULL constraint fires mid-txn);
  *  - upsert vehiculo on registration_plate, updating everything EXCEPT
  *    carrier_id (`vehiculo.ts:209` "No actualizamos 'carrier_id'");
  *  - revision_tecnica appended for every accepted row; permiso/soap/
  *    CAV appended when their JSON payload is present
  *    (`vehiculo.ts:239-318`).
  */
object VehiculoPipeline {
  import PipelineUtil._

  /** `jsCoercion = true` replays the reference's numeric quirks exactly
    * — `parseInt`/`parseFloat` prefix-parse with `|| null` folding 0 to
    * null ([[graft.functions.GraftFunctions.js_int]]) — for byte-level
    * parity when migrating a dataset the reference already loaded. The
    * default keeps the saner strict `try_cast` semantics. */
  def run(store: SilverStore, bronze: DataFrame,
          jsCoercion: Boolean = false): EtlResult = {
    val toInt: Column => Column =
      if (jsCoercion) { c =>
        val l = F.js_int(c)
        // a bare cast would WRAP out-of-int-range longs (ANSI off); the
        // reference's INTEGER column rejects such rows — null is the
        // honest mapping, never a fabricated wrapped value
        when(l.between(Int.MinValue.toLong, Int.MaxValue.toLong),
          l.cast(IntegerType))
      } else F.try_int
    val toDouble: Column => Column =
      if (jsCoercion) c => F.js_float(c) else F.try_double
    val empresa = store.read("empresa", SilverSchemas.empresa)
      .select(col("carrier_id"), col("carrier_bp").as("_emp_bp"))

    val conformed = bronze
      .withColumn("plate_c", F.clean_text(col("registration_plate")))
      .withColumn("carrier_bp_c", F.clean_text(col("carrier_bp")))
      .withColumn("vehicle_type_c", F.normalize_spaces(col("vehicle_type")))
      .withColumn("vehicle_designation_c", F.normalize_spaces(col("vehicle_designation")))
      .withColumn("vehicle_brand_c", F.normalize_spaces(col("vehicle_make")))
      .withColumn("vehicle_model_c", F.normalize_spaces(col("vehicle_model")))
      .join(broadcast(empresa), col("carrier_bp_c") === col("_emp_bp"), "left")

    // B6 validation (`vehiculo.ts:116-131`); dim NOT NULLs reject too
    val reason = when(col("_corrupt").isNotNull, "fila corrupta")
      .when(col("carrier_id").isNull,
        concat(lit("Empresa con carrier_bp '"), coalesce(col("carrier_bp_c"), lit("")),
          lit("' no encontrada.")))
      .when(col("plate_c").isNull, "Patente no encontrada.")
      .when(col("vehicle_type_c").isNull, "vehicle_type vacío")
      .when(col("vehicle_designation_c").isNull, "vehicle_designation vacío")
      .when(col("vehicle_brand_c").isNull, "vehicle_make vacío")
      .when(col("vehicle_model_c").isNull, "vehicle_model vacío")
    land(store, "vehiculo", bronze, conformed, reason) { accepted =>
      // D1 dims (`vehiculo.ts:134-159`)
      val tipoDim = DimOps.sync(store, "tipo_vehiculo", "vehicle_type_id",
        Seq("vehicle_type"), accepted.select(col("vehicle_type_c").as("vehicle_type")))
      val desigDim = DimOps.sync(store, "tipo_designacion", "vehicle_designation_id",
        Seq("vehicle_designation"),
        accepted.select(col("vehicle_designation_c").as("vehicle_designation")))
      val marcaDim = DimOps.sync(store, "vehiculo_marca", "vehicle_brand_id",
        Seq("vehicle_brand"), accepted.select(col("vehicle_brand_c").as("vehicle_brand")))

      // D2 composite modelo dim: key (vehicle_model, vehicle_brand_id)
      // via the brand lookup (C3/C4, `vehiculo.ts:161-176`)
      val withBrand = accepted
        .join(broadcast(marcaDim.select(col("vehicle_brand_id"),
            col("vehicle_brand").as("_dim_brand"))),
          col("vehicle_brand_c") === col("_dim_brand"), "left")
      val modeloDim = DimOps.sync(store, "vehiculo_modelo", "vehicle_model_id",
        Seq("vehicle_model", "vehicle_brand_id"),
        withBrand.select(col("vehicle_model_c").as("vehicle_model"),
          col("vehicle_brand_id")),
        schema = SilverSchemas.vehiculoModelo)

      // B3 typed projection (F4-F6 coercions, `vehiculo.ts:178-234`).
      // carrier_id is insert-only (H3): within a batch the FIRST row per
      // plate does the insert in the reference, so its carrier wins even
      // though every other column takes the last row's value.
      val firstCarrier = first(col("carrier_id")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("plate_c")).orderBy(col("_row_id")))
      val source = MergeOps.lastWins(
          withBrand.withColumn("carrier_id_first", firstCarrier), Seq("plate_c"))
        .withColumn("carrier_id", col("carrier_id_first"))
        .join(broadcast(tipoDim.select(col("vehicle_type_id"),
            col("vehicle_type").as("_dim_vt"))),
          col("vehicle_type_c") === col("_dim_vt"), "left")
        .join(broadcast(desigDim.select(col("vehicle_designation_id"),
            col("vehicle_designation").as("_dim_vd"))),
          col("vehicle_designation_c") === col("_dim_vd"), "left")
        .join(broadcast(modeloDim.select(col("vehicle_model_id"),
            col("vehicle_model").as("_dim_vm"), col("vehicle_brand_id").as("_dim_vmb"))),
          col("vehicle_model_c") === col("_dim_vm") &&
            col("vehicle_brand_id") === col("_dim_vmb"), "left")
        .select(
          col("plate_c").as("registration_plate"),
          col("carrier_id"),
          toInt(col("year_of_manufacture")).as("year_of_manufacture"),
          F.string_to_bool(col("gps")).as("gps"),
          F.clean_json_text(col("engine_number")).as("engine_number"),
          F.clean_json_text(col("chassis_number")).as("chassis_number"),
          F.clean_json_text(col("vin")).as("vin"),
          toInt(col("odometer_km")).as("odometer_km"),
          F.clean_json_text(col("cortina")).as("cortina"),
          F.safe_to_date(col("instalacion_cortina")).as("instalacion_cortina"),
          F.string_to_bool(col("parrilla")).as("parrilla"),
          toDouble(col("peso")).as("peso"),
          toDouble(col("largo")).as("largo"),
          toDouble(col("ancho")).as("ancho"),
          toDouble(col("alto")).as("alto"),
          F.clean_json_text(col("mop_clasification")).as("mop_clasification"),
          toInt(col("nominal_pallet")).as("nominal_pallet"),
          col("vehicle_type_id"), col("vehicle_designation_id"),
          col("vehicle_model_id"))

      // H3 merge — carrier_id set on insert, never updated; bucketed so
      // only buckets containing this batch's plates are scanned/rewritten
      MergeOps.mergeBucketed(store, "vehiculo", SilverSchemas.vehiculo, source,
        Seq("registration_plate"), "vehicle_id",
        updateCols = Seq("year_of_manufacture", "gps", "engine_number",
          "chassis_number", "vin", "odometer_km", "cortina",
          "instalacion_cortina", "parrilla", "peso", "largo", "ancho", "alto",
          "mop_clasification", "nominal_pallet", "vehicle_type_id",
          "vehicle_designation_id", "vehicle_model_id"),
        insertOnlyCols = Seq("carrier_id"))

      appendChildren(store, withIds(store, "vehiculo", SilverSchemas.vehiculo,
        "registration_plate", accepted, "plate_c"))
    }
  }

  /** H5 historized children (`vehiculo.ts:239-318`). */
  private def appendChildren(store: SilverStore, withVid: DataFrame): Unit = {
    val ord = Seq(col("vehicle_id"), col("_row_id"))

    // revision_tecnica: unconditional per accepted row
    val statusCols = Seq("emissions_crt_status", "identification_status",
      "visual_status", "lights_status", "alignment_status", "brakes_status",
      "clearances_status", "emissions_status", "opacity_status",
      "steering_angle_status", "noise_status", "suspension_status")
    val rt0 = withVid
      .withColumn("fecha_revision_tecnica_d", F.safe_to_date(col("fecha_revision_tecnica")))
      .withColumn("fecha_vencimiento_revision_tecnica_d",
        F.safe_to_date(col("fecha_vencimiento_revision_tecnica")))
    val rt = statusCols.foldLeft(rt0) { (df, c) =>
        df.withColumn(s"${c}_b", F.status_to_bool(col(c)))
      }
      .drop("fecha_revision_tecnica" +: "fecha_vencimiento_revision_tecnica" +: statusCols: _*)
      .withColumnsRenamed(
        (statusCols.map(c => s"${c}_b" -> c) ++ Seq(
          "fecha_revision_tecnica_d" -> "fecha_revision_tecnica",
          "fecha_vencimiento_revision_tecnica_d" -> "fecha_vencimiento_revision_tecnica")).toMap)
    appendChild(store, "revision_tecnica", SilverSchemas.revisionTecnica, rt, ord)

    // permiso_circulacion (payload-gated)
    val pc = withVid.filter(col("permiso_circulacion_data").isNotNull)
      .withColumn("_p", from_json(col("permiso_circulacion_data"),
        PayloadSchemas.permisoCirculacion))
      .withColumn("municipalidad", F.clean_json_text(col("_p.municipalidad")))
      .withColumn("fecha_emision", F.safe_to_date(col("_p.fecha_emision")))
      .withColumn("fecha_vencimiento", F.safe_to_date(col("_p.fecha_vencimiento")))
    appendChild(store, "permiso_circulacion", SilverSchemas.permisoCirculacion, pc, ord)

    // soap (payload-gated; numero_poliza 0 -> null per JS `|| null`)
    val so = withVid.filter(col("soap_data").isNotNull)
      .withColumn("_p", from_json(col("soap_data"), PayloadSchemas.soap))
      .withColumn("numero_poliza",
        when(col("_p.numero_poliza") === 0, lit(null)).otherwise(col("_p.numero_poliza")))
      .withColumn("institucion_aseguradora", F.clean_json_text(col("_p.institucion_aseguradora")))
      .withColumn("fecha_vencimiento_poliza", F.safe_to_date(col("_p.fecha_vencimiento_poliza")))
    appendChild(store, "soap", SilverSchemas.soap, so, ord)

    // certificado_anotaciones_vigentes (payload-gated, nested struct)
    val cav = withVid.filter(col("certificado_anotaciones_vigentes_data").isNotNull)
      .withColumn("_p", from_json(col("certificado_anotaciones_vigentes_data"),
        PayloadSchemas.cav))
      .withColumn("folio", F.clean_json_text(col("_p.folio")))
      .withColumn("codigo_verificacion", F.clean_json_text(col("_p.codigo_verificacion")))
      .withColumn("fecha_emision", F.safe_to_date(col("_p.fecha_emision")))
      .withColumn("limitaciones_al_dominio", F.clean_json_text(col("_p.limitaciones_al_dominio")))
      .withColumn("nombre_propietario", F.clean_json_text(col("_p.datos_propietario_actual.nombre")))
      .withColumn("rut_propietario", F.clean_json_text(col("_p.datos_propietario_actual.rut")))
      .withColumn("fecha_adquisicion", F.safe_to_date(col("_p.datos_propietario_actual.fecha_adquisicion")))
    appendChild(store, "certificado_anotaciones_vigentes", SilverSchemas.cav, cav, ord)
  }
}
