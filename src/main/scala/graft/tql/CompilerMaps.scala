package graft.tql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Fake

/** Map-statement compilation (FILTER/MAPVALUE/GROUP/TIMEWINDOW/SCRIPT/
  * WHEN…) — split out of Compiler.scala (same object via self-type). */
private[tql] trait CompilerMaps { this: Compiler.type =>
  // ---------------- maps ----------------
  private[tql] def compileMap(p: Pipe, st: Statement): Pipe = {
    import Expr._
    st.call match {
      case Call("SCRIPT", args) => compileScriptMap(p, args)

      case Call("WHEN", List(cond, action)) =>
        runWhen(p, cond, action)
        p // WHEN is a pass-through with side effects (fm_monad.go:2171)

      case Call("FILTER", List(cond)) =>
        p.copy(df = p.df.filter(toColumn(cond, p)))

      case Call("TAKE", args) =>
        val (off, n) = args match {
          case List(Num(n)) => (0, n.toInt)
          case List(Num(o), Num(n)) => (o.toInt, n.toInt)
          case _ => throw new IllegalArgumentException("TAKE(n) or TAKE(offset, n)")
        }
        // fm_monad.go:50 — an explicit two-arg limit must be positive
        if (args.size == 2 && n <= 0) throw new IllegalArgumentException(
          "f(TAKE) arg(1) limit should be larger than 0")
        // Keyless pipeline (TAKE/DROP were the only order consumers):
        // per-partition prefix-take + deterministic concat — early-
        // terminates upstream like the reference's circuit-break and is
        // arrival-order-deterministic even when a sink projection sits
        // above (where a bare offset/limit would plan a GlobalLimit under
        // a fetch-order-randomized single-partition shuffle).
        if (p.df.columns.contains(p.keyCol))
          p.copy(df = p.df.orderBy(col(p.keyCol)).offset(off).limit(n))
        else
          p.copy(df = graft.operators.RowOps.takeArrival(p.df, off, n))

      case Call("DROP", args) =>
        val (off, n) = args match {
          case List(Num(n)) => (0, n.toInt)
          case List(Num(o), Num(n)) => (o.toInt, n.toInt)
          case _ => throw new IllegalArgumentException("DROP(n) or DROP(offset, n)")
        }
        if (args.size == 2 && n <= 0) throw new IllegalArgumentException(
          "f(DROP) arg(1) limit should be larger than 0")
        if (p.df.columns.contains(p.keyCol))
          p.copy(df = graft.operators.RowOps.drop(p.df, Seq(col(p.keyCol)), off, n))
        else
          // keyless drop needs a rownum, but not a sort: zipRownum over
          // the natural order (codegen partition-offset path when the
          // plan is shuffle-free) — a bare `offset(n)` would funnel the
          // full remainder through one shuffle partition AND lose
          // arrival-order determinism on a cluster
          p.copy(df = graft.operators.RowOps.drop(p.df, Nil, off, n))

      case Call("MAPVALUE", Num(idx) :: expr :: rest) if idx < 0 =>
        // MAPVALUE(-1, expr) prepends — equiv. PUSHVALUE(0, expr)
        // (reference fm_monad.go:1612+ negative-index growth)
        val name = pushValueName(p, rest)
        val df = p.df.withColumn(name, pushValueExpr(expr, rest, p))
        p.copy(df = df, values = name +: p.values)

      case Call("MAPVALUE", Num(idx) :: expr :: rest) =>
        val name = rest.collectFirst { case Str(s) => s }
          .getOrElse(if (idx.toInt < p.values.size) p.values(idx.toInt)
                     else pushValueName(p, rest))
        val c0 = toColumn(expr, p)
        // nullValue(alt) substitutes a null RESULT; where(pred) keeps the
        // ORIGINAL value on replace (fm_monad.go:1745-1804 wherePredicate
        // only assigns when true) but nulls on growth (push path)
        val cNv = rest.collectFirst { case Call("nullValue", List(nv)) =>
          coalesce(c0, toColumn(nv, p)) }.getOrElse(c0)
        val c =
          if (idx.toInt < p.values.size)
            rest.collectFirst { case Call("where", List(pred)) =>
              when(toColumn(pred, p), cNv).otherwise(p.df(p.values(idx.toInt))) }.getOrElse(cNv)
          else
            rest.collectFirst { case Call("where", List(pred)) =>
              when(toColumn(pred, p), cNv) }.getOrElse(cNv)
        val i = idx.toInt
        if (i < p.values.size) {
          // replace in place (possibly renaming)
          val old = p.values(i)
          val oldType = p.df.schema(old).dataType
          var df = p.df.withColumn(s"__new_$i", c).drop(old)
            .withColumnRenamed(s"__new_$i", name)
          // a dict() value keeps the column's DECLARED type in the wire
          // envelope (the reference's column metadata is static while
          // values are dynamic — TestDict pins types:["double"])
          if (df.schema(name).dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
            !oldType.isInstanceOf[org.apache.spark.sql.types.MapType]) {
            val meta = new org.apache.spark.sql.types.MetadataBuilder()
              .putString("machtype", graft.sinks.Codecs.typeName(oldType)).build()
            df = df.withColumn(name, df(name).as(name, meta))
          }
          p.copy(df = df, values = p.values.updated(i, name))
        } else {
          // grow the tuple (reference allows appending at next index)
          p.copy(df = p.df.withColumn(name, c), values = p.values :+ name)
        }

      case Call("PUSHVALUE", Num(idx) :: expr :: rest) =>
        val name = pushValueName(p, rest)
        val df = p.df.withColumn(name, pushValueExpr(expr, rest, p))
        val i = math.max(0, math.min(idx.toInt, p.values.size))
        p.copy(df = df, values = (p.values.take(i) :+ name) ++ p.values.drop(i))

      case Call("POPVALUE", idxs) =>
        val drop = idxs.collect { case Num(i) => i.toInt }.toSet
        val keep = p.values.zipWithIndex.filterNot { case (_, i) => drop(i) }.map(_._1)
        p.copy(df = p.df.drop(p.values.zipWithIndex.filter { case (_, i) => drop(i) }.map(_._1): _*),
          values = keep)

      case Call("SET", List(Str(name), expr)) =>
        // record variable, referenced later as $name
        p.copy(df = p.df.withColumn(s"$$$name", toColumn(expr, p)))

      case Call("SET", List(Ident(name), expr)) =>
        // call form `SET(name, expr)` (fm_script_test.go:423-435)
        p.copy(df = p.df.withColumn(s"$$$name", toColumn(expr, p)))

      case Call("MAPKEY", List(expr)) =>
        // replace the key without demoting the old one (fm_monad.go:1515+)
        val df = p.df.withColumn("__newkey", toColumn(expr, p))
          .drop(p.keyCol).withColumnRenamed("__newkey", "_key")
        p.copy(df = df, keyCol = "_key", keyName = "key")

      case Call("MAPKEY", args) =>
        // a bad arg count is a PER-RECORD error in the reference — the
        // task logs it and drops each record, so the sink still replies
        // success with the source columns and zero rows
        // (http_test.go TestTQL_SyntaxErrors mapkey_wrong_argument)
        TqlLog.log("ERROR",
          s"f(MAPKEY) invalid number of args; expect:1, actual:${args.size}")
        p.copy(df = p.df.limit(0))

      case Call("PUSHKEY", List(expr)) =>
        // demote current key into values (the rownum key surfaces as
        // "ROWNUM", a previously-pushed key as "key" — fm_monad.go:1578
        // result-column naming), new key from expr. Chained PUSHKEYs need
        // distinct demoted names (TestMath pushes twice before popping
        // both back).
        val base = if (p.keyCol == "_key") p.keyName else p.keyCol
        val demoted =
          if (!p.values.contains(base)) base
          else {
            var i = 1
            while (p.values.contains(s"${base}_$i")) i += 1
            s"${base}_$i"
          }
        val df = p.df.withColumn("__newkey", toColumn(expr, p))
          .withColumnRenamed(p.keyCol, demoted)
          .withColumnRenamed("__newkey", "_key")
        p.copy(df = df, keyCol = "_key", values = demoted +: p.values,
          keyName = "key")

      case Call("POPKEY", args) =>
        // pop value[nth] back into the key — removed BY INDEX, since
        // chained pushes can briefly hold same-named value columns
        val nth = args.collectFirst { case Num(n) => n.toInt }.getOrElse(0)
        val newKey = p.values(nth)
        val df = p.df.drop(p.keyCol)
        p.copy(df = df, keyCol = newKey,
          values = p.values.patch(nth, Nil, 1), keyName = newKey)

      case Call("FLATTEN", Nil) =>
        // explode every array-typed value column (reference explodes the
        // tuple); relational operators (FFT) already emit flat rows, so a
        // FLATTEN over a frame with no array columns is the identity
        val arrayCols = p.values.filter(v =>
          p.df.schema(v).dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        arrayCols match {
          case Seq() => p
          case Seq(one) =>
            p.copy(df = p.df.withColumn(one, explode(col(one))))
          case _ => throw new IllegalArgumentException("FLATTEN expects one array value column")
        }

      case Call("GROUP", args) =>
        compileGroup(p, args)

      // ---- sequential MAP_* statements: record-order semantics over the
      // rownum key, mirroring the reference's single-stream state
      // (fm_monad.go MAP_DIFF 1806+, MAP_AVG 1993+, MAP_MOVAVG 2023+,
      // MAP_LOWPASS 2081+). Whole-stream = one logical series.
      case Call("MAP_DIFF", Num(idx) :: v :: rest) =>
        val (c, isTs) = diffInput(v, p)
        seqMapValue(p, idx.toInt, rest,
          if (isTs) graft.operators.SeqOps.mapDiffTimeNs(c, Seq(lit(1)), col(p.keyCol))
          else graft.operators.SeqOps.mapDiff(c, Seq(lit(1)), col(p.keyCol)))
      case Call("MAP_ABSDIFF", Num(idx) :: v :: rest) =>
        val (c, isTs) = diffInput(v, p)
        seqMapValue(p, idx.toInt, rest,
          if (isTs) graft.operators.SeqOps.mapDiffTimeNs(c, Seq(lit(1)), col(p.keyCol), abs = true)
          else graft.operators.SeqOps.mapAbsDiff(c, Seq(lit(1)), col(p.keyCol)))
      case Call("MAP_NONEGDIFF", Num(idx) :: v :: rest) =>
        val (c, isTs) = diffInput(v, p)
        seqMapValue(p, idx.toInt, rest,
          if (isTs) graft.operators.SeqOps.mapDiffTimeNs(c, Seq(lit(1)), col(p.keyCol), nonNeg = true)
          else graft.operators.SeqOps.mapNonNegDiff(c, Seq(lit(1)), col(p.keyCol)))
      case Call("MAP_AVG", Num(idx) :: v :: rest) =>
        seqMapValue(p, idx.toInt, rest,
          graft.operators.SeqOps.mapAvg(toColumn(v, p).cast("double"), Seq(lit(1)), col(p.keyCol)))
      case Call("MAP_LOWPASS", Num(idx) :: v :: Num(alpha) :: rest) =>
        // recursive y=(1-a)y+ax over record order via the per-series scan
        require(alpha > 0 && alpha < 1,
          "MAP_LOWPASS() should have 0 < alpha < 1 ") // fm_monad_test.go:59
        val tmp = p.df.withColumn("__lp_in", toColumn(v, p).cast("double"))
          .withColumn("__series", lit(1))
        val scanned = graft.operators.SeqOps.lowpass(
          tmp, "__series", p.keyCol, "__lp_in", alpha, "__lp_out")
          .drop("__lp_in", "__series")
        scanResult(p, idx.toInt, rest, scanned, "__lp_out")

      case Call("MAP_KALMAN", Num(idx) :: v :: rest) =>
        // 1-D Kalman over record order; model('simple', iv, pv, ov)
        // defaults 2.0/0.01/2.0 (fm_monad.go:1908-1991, 1936-1944)
        val vars = rest.collectFirst {
          case Call("model", margs) => margs.collect { case Num(x) => x }
        }.getOrElse(Nil)
        val tmp = p.df.withColumn("__kf_in", toColumn(v, p).cast("double"))
          .withColumn("__series", lit(1))
        val scanned = graft.operators.SeqOps.kalman(
          tmp, "__series", p.keyCol, "__kf_in",
          vars.lift(0).getOrElse(2.0), vars.lift(1).getOrElse(0.01),
          vars.lift(2).getOrElse(2.0), "__kf_out")
          .drop("__kf_in", "__series")
        scanResult(p, idx.toInt, rest, scanned, "__kf_out")

      case Call("MAP_DISTANCE", Num(idx) :: pt :: rest) =>
        // per-leg haversine meters from the previous VALID point; 0 for
        // the first record and for (0,0)/non-latlon coords, which also
        // don't advance the previous point (fm_monad.go:2109-2143)
        val legs = pt match {
          case Call("latlon", List(la, lo)) =>
            graft.operators.SeqOps.legDistance(
              toColumn(la, p).cast("double"), toColumn(lo, p).cast("double"),
              Seq(lit(1)), col(p.keyCol))
          case _ => lit(0d)
        }
        seqMapValue(p, idx.toInt, rest, legs)

      case Call("THROTTLE", _) =>
        // real-time pacing (fm_monad.go fmThrottle) — a no-op on a batch
        // frame; the streaming edge paces via Subscribers.paced
        p

      case Call("MAP_MOVAVG", Num(idx) :: v :: Num(win) :: rest) =>
        val noWait = rest.exists { case Call("noWait", _) => true; case _ => false }
        seqMapValue(p, idx.toInt, rest,
          graft.operators.SeqOps.movAvg(toColumn(v, p).cast("double"), Seq(lit(1)), col(p.keyCol),
            win.toInt, noWait))

      case Call("FILTER_CHANGED", v :: rest) =>
        val retain = rest.collectFirst {
          case Call("retain", List(timeE, Str(dur))) =>
            (nsLongOf(timeE, p), graft.time.TimeFns.parseDurationNs(dur))
        }
        val useFirstLast = rest.collectFirst {
          case Call("useFirstWithLast", List(Bool(b))) => b
          case Call("useFirstWithLast", Nil) => false
        }
        retain match {
          case Some((rtime, durNs)) =>
            // retain(time, dur): the stabilization-record rule; the
            // useFirstWithLast option swaps in the run opener + EOF tail
            p.copy(df = graft.operators.SeqOps.filterChangedRetain(
              p.df, toColumn(v, p), Seq(lit(1)), col(p.keyCol), rtime, durNs,
              useFirst = useFirstLast.isDefined,
              withLast = useFirstLast.getOrElse(false)))
          case None if useFirstLast.contains(true) =>
            // useFirstWithLast(false) is identical to plain FILTER_CHANGED
            // (fm_monad.go withLast branch; tql_test.go pins both spellings)
            p.copy(df = graft.operators.SeqOps.filterChangedFirstLast(
              p.df, toColumn(v, p), Seq(lit(1)), col(p.keyCol)))
          case None =>
            p.copy(df = graft.operators.SeqOps.filterChanged(
              p.df, toColumn(v, p), Seq(lit(1)), col(p.keyCol)))
        }

      case Call("GROUPBYKEY", _) =>
        // records are already key-addressable; downstream whole-key
        // operators (FFT) consume the keyed frame directly
        p

      case Call("FFT", args) =>
        val minHz = args.collectFirst { case Call("minHz", List(Num(v))) => v }.getOrElse(0d)
        val maxHz = args.collectFirst { case Call("maxHz", List(Num(v))) => v }.getOrElse(Double.MaxValue)
        // samples must be (time, value) tuples: wider errors with the
        // reference diagnostic, narrower drops every record
        // (tql_test.go FFT_not_enough_samples_0 / _16)
        if (p.values.size > 2) throw new IllegalArgumentException(
          s"f(FFT) sample should be a tuple of (time, value), but len=${p.values.size}")
        if (p.values.size < 2) {
          val df = p.df.filter(lit(false))
            .select(col(p.keyCol).as("key"), lit(0d).as("hz"), lit(0d).as("amp"))
          Pipe(df, "key", Seq("hz", "amp"))
        } else {
          val df = graft.operators.FftOp.perKey(
            p.df, p.keyCol, p.values(0), p.values(1), minHz, maxHz)
          Pipe(df, "key", Seq("hz", "amp"))
        }

      case Call("TRANSPOSE", args) =>
        // TRANSPOSE(fixed(i…)) keeps listed columns fixed and unpivots the
        // rest; TRANSPOSE(i…) unpivots the listed columns. header(true)
        // consumes the FIRST RECORD as column labels and adds a "header"
        // column carrying the melted labels (reference
        // fm_monad.go:2415-2594; golden transpose_hdr/transpose_nohdr).
        val withHeader = args.exists {
          case Call("header", Nil) => true
          case Call("header", List(Bool(b))) => b
          case _ => false
        }
        val fixedIdx = args.collect { case Call("fixed", idxs) =>
          idxs.collect { case Num(i) => i.toInt } }.flatten.toSet
        val bareIdx = args.collect { case Num(i) => i.toInt }.toSet
        val fixedCols =
          if (fixedIdx.nonEmpty) p.values.zipWithIndex.filter { case (_, i) => fixedIdx(i) }.map(_._1)
          else if (bareIdx.nonEmpty) p.values.zipWithIndex.filterNot { case (_, i) => bareIdx(i) }.map(_._1)
          else Seq.empty // no selection → melt every value column
        val meltCols = p.values.filterNot(fixedCols.contains)
        if (!withHeader) {
          val df0 = graft.operators.RowOps.transpose(
            p.df.select(p.values.map(vcol): _*), fixedCols).drop("name")
          // positional renames column0..columnK, reference style
          val outNames = (0 until fixedCols.size + 1).map(i => s"column$i")
          val df = df0.select(df0.columns.zip(outNames).map {
            case (c, n) => vcol(c).as(n) }: _*)
          p.copy(df = df, values = outNames)
        } else {
          // consume the first record (by key order) as labels
          val headRow = p.df.orderBy(col(p.keyCol)).limit(1)
            .select(p.values.map(vcol): _*).collect()(0)
          val label = p.values.zipWithIndex.map { case (c, i) =>
            c -> String.valueOf(headRow.get(i)) }.toMap
          val rest = p.df.join(headRow match { case _ =>
            p.df.orderBy(col(p.keyCol)).limit(1).select(col(p.keyCol))
          }, Seq(p.keyCol), "left_anti")
          val df0 = graft.operators.RowOps.transpose(
            rest.select(p.values.map(vcol): _*), fixedCols)
          // melted labels via the header row
          val nameMapped = meltCols.foldLeft(df0.withColumn("header", col("name"))) {
            (d, c) => d.withColumn("header",
              when(col("header") === c, label(c)).otherwise(col("header")))
          }.drop("name")
          val valueName = s"column${fixedCols.size + 1}"
          val outFixed = fixedCols.map(c => vcol(c).as(label(c)))
          val df = nameMapped.select(
            outFixed ++ Seq(col("header"), col("value").as(valueName)): _*)
          p.copy(df = df, values = fixedCols.map(label) ++ Seq("header", valueName))
        }

      case Call("TIMEWINDOW", fromE :: untilE :: periodE :: colSpecs) =>
        // standalone TIMEWINDOW (fm_time.go:426-533, deprecated alias of
        // GROUP(timewindow)): ABSOLUTE period-aligned windows
        // w = floor(ts/period)·period kept when from <= w < until;
        // positional column specs name the record's columns, 'time'
        // marks the time column, others are aggregators (optional
        // ':predictor' suffix selects the gap filler).
        import graft.operators.GapFill
        val fromNs = evalConstNs(fromE)
        val untilNs = evalConstNs(untilE)
        val periodNs = periodE match {
          case Call("period", List(Str(d))) => graft.time.TimeFns.parseDurationNs(d)
          case Call("period", List(n)) => evalConstNs(n)
          case Str(d) => graft.time.TimeFns.parseDurationNs(d)
          case n => evalConstNs(n)
        }
        if (untilNs - fromNs <= periodNs) throw new IllegalArgumentException(
          "f(TIMEWINDOW) arg(0) from ~ until should be larger than period")
        val specs = colSpecs.collect { case Str(s) => s }
        val timeIdx = specs.indexWhere(_.equalsIgnoreCase("time"))
        require(timeIdx >= 0, "TIMEWINDOW requires a 'time' column spec")
        val firstW = Math.floorDiv(fromNs + periodNs - 1, periodNs) * periodNs
        val lastWExcl = (Math.floorDiv(untilNs - 1, periodNs) + 1) * periodNs
        var fill: GapFill.Fill = colSpecs.collectFirst {
          case Call("nullValue", List(Num(v))) => GapFill.FillConst(v)
        }.getOrElse(GapFill.FillNull)
        val aggs = specs.zipWithIndex.filterNot(_._2 == timeIdx).map { case (spec, i) =>
          val (fn, predict) = spec.indexOf(':') match {
            case -1 => (spec, "")
            case at => (spec.take(at), spec.drop(at + 1))
          }
          predict.toLowerCase match {
            case "" =>
            case "piecewiseconstant" => fill = GapFill.FillPrevious
            case "piecewiselinear" => fill = GapFill.FillLinear
            case "akimaspline" => fill = GapFill.FillAkima
            case "fritschbutland" => fill = GapFill.FillFritschButland
            case "linearregression" => fill = GapFill.FillLinReg
            case k => throw new IllegalArgumentException(s"unknown predictor($k)")
          }
          p.values(i) -> buildAgg(fn, col(p.values(i)), p)
        }
        require(aggs.nonEmpty, "TIMEWINDOW needs at least one aggregator column")
        val timeName = p.values(timeIdx)
        // time can arrive as epoch-ns long or as a timestamp (CSV
        // datetimeType sources) — normalize to ns for the bucketing
        val tsNs = p.df.schema(timeName).dataType match {
          case _: org.apache.spark.sql.types.TimestampType =>
            unix_micros(col(timeName)) * 1000L
          case _ => col(timeName).cast("long")
        }
        val out = GapFill.timewindow(p.df.sparkSession, p.df,
            tsNs, firstW, lastWExcl, periodNs, aggs, fill)
          // buckets surface as timestamps so the sink's timeformat()
          // modes apply (ms golden renders epoch-ms)
          .withColumn("bucket_ns", timestamp_micros(expr("bucket_ns div 1000")))
          .withColumnRenamed("bucket_ns", timeName)
        val ordered = p.values.indices.map(i => p.values(i))
        Pipe(out.select(ordered.map(col): _*), timeName, ordered)

      case Call("BOXPLOT", bpArgs) =>
        compileBoxplot(p, bpArgs)

      case Call("HISTOGRAM", v :: rest) =>
        // bins() arity contract (fm_stat_test.go:25): 1 arg = max-bin
        // sketch, 3 args = fixed (min,max,step) — anything else errors
        rest.foreach {
          case Call("bins", bargs) if bargs.size != 1 && bargs.size != 3 =>
            throw new IllegalArgumentException(
              s"f(bins) invalid number of args; expected 1 or 3, got ${bargs.size}")
          case _ =>
        }
        rest.collectFirst {
          case Call("bins", List(Num(a), Num(b), Num(s0))) => (a, b, s0)
        } match {
          case Some((minV, maxV, step)) =>
            val df = graft.operators.StatOps.histogram(
              p.df.sparkSession, p.df, toColumn(v, p), minV, maxV, step)
            Pipe(df, "low", Seq("low", "high", "count"))
          case None =>
            // bins(n): unpredicted bins — the reference's streaming
            // merge-closest sketch, fed in record order (bounded state).
            // The sketch is order-dependent, so it CANNOT distribute
            // without changing reference semantics; the driver stream is
            // row-capped instead (mirroring graft.timewindow.maxBuckets)
            // so an unbounded table fails fast, not OOM-slow.
            val maxBins = rest.collectFirst {
              case Call("bins", List(Num(n))) => n.toInt
            }.getOrElse(throw new IllegalArgumentException(
              "HISTOGRAM needs bins(min,max,step) or bins(n)"))
            val spark = p.df.sparkSession
            import spark.implicits._
            val maxRows = spark.conf.get("graft.histogram.maxStreamRows", "10000000").toLong
            val hist = new graft.operators.StatOps.StreamingHistogram(maxBins)
            val vals = p.df.orderBy(col(p.keyCol))
              .select(toColumn(v, p).cast("double"))
            import scala.jdk.CollectionConverters._
            var seen = 0L
            vals.toLocalIterator().asScala.foreach { r =>
              seen += 1
              if (seen > maxRows) throw new IllegalArgumentException(
                s"HISTOGRAM limit over. (rows:>$maxRows, Available:$maxRows)")
              hist.add(r.getDouble(0))
            }
            Pipe(hist.bins.toDF("value", "count"), "value", Seq("value", "count"))
        }

      case other => throw new IllegalArgumentException(s"unsupported map: ${st.text}")
    }
  }

  /** Go strings.Replace semantics: first n occurrences (n<0 = all). */
  private[tql] lazy val replaceNUdf = udf { (s: String, from: String, to: String, n: Int) =>
    if (s == null) null
    else if (n < 0) s.replace(from, to)
    else {
      val sb = new StringBuilder
      var i = 0; var done = 0
      while (i < s.length) {
        if (done < n && s.startsWith(from, i) && from.nonEmpty) {
          sb.append(to); i += from.length; done += 1
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
  }

  /** MAP_* helper for per-series-scan results: the scan appended
    * `outCol`; land it in value slot `idx` under the declared name. */
  private[tql] def scanResult(p: Pipe, idx: Int, rest: List[Expr],
                         scanned: DataFrame, outCol: String): Pipe = {
    val name = rest.collectFirst { case Expr.Str(nm) => nm }
      .getOrElse(if (idx < p.values.size) p.values(idx) else s"value_$idx")
    if (idx < p.values.size) {
      val old = p.values(idx)
      p.copy(df = scanned.drop(old).withColumnRenamed(outCol, name),
        values = p.values.updated(idx, name))
    } else {
      p.copy(df = scanned.withColumnRenamed(outCol, name), values = p.values :+ name)
    }
  }

  /** MAP_* helper: write a sequential result into value slot `idx`. */
  private[tql] def seqMapValue(p: Pipe, idx: Int, rest: List[Expr], c: Column): Pipe = {
    val name = rest.collectFirst { case Expr.Str(s) => s }
      .getOrElse(if (idx < p.values.size) p.values(idx) else s"value_$idx")
    if (idx < p.values.size) {
      val old = p.values(idx)
      val df = p.df.withColumn(s"__seq_$idx", c).drop(old)
        .withColumnRenamed(s"__seq_$idx", name)
      p.copy(df = df, values = p.values.updated(idx, name))
    } else {
      p.copy(df = p.df.withColumn(name, c), values = p.values :+ name)
    }
  }

  private[tql] val aggNames = Set("count", "sum", "min", "max", "avg", "mean", "first", "last",
    "stddev", "variance", "stderr", "entropy", "median", "medianInterpolated",
    "quantile", "quantileInterpolated", "rss", "rms", "list", "mode",
    "cdf", "moment", "lrs", "correlation", "covariance")

  /** aggregator trailing args that are options, not value expressions
    * (newAggregate's switch — fm_monad.go:911-930). */
  private[tql] def isAggOption(e: Expr): Boolean = e match {
    case Expr.Str(_) => true
    case Expr.Call("where" | "weight" | "nullValue" | "predict", _) => true
    case _ => false
  }

  /** gonum stat.Quantile Empirical: smallest v_i with (i+1)/n >= p. */
  private[tql] def quantileEmpirical(c: Column, p: Double): Column = {
    val sorted = array_sort(collect_list(c))
    element_at(sorted, greatest(ceil(lit(p) * size(sorted)), lit(1L)).cast("int"))
  }

  /** gonum stat.Quantile LinInterp: CDF(v_i)=(i+1)/n piecewise-linear. */
  private[tql] def quantileLinInterp(c: Column, q: Double): Column = {
    val sorted = array_sort(collect_list(c))
    val n = size(sorted)
    val pos = greatest(lit(q) * n - 1.0d, lit(0d))
    val k = floor(pos).cast("int")
    val f = pos - k
    val lo = element_at(sorted, k + 1)
    val hi = element_at(sorted, least(k + 2, n))
    lo + (hi - lo) * f
  }

  /** Aggregator builder shared by GROUP and GROUP(timewindow). Numeric
    * aggregators coerce to double like the reference's float64 buffers
    * (fm_monad.go:784-809); first/last follow record order (key). */
  private[tql] def buildAgg(fn: String, raw: Column, p: Pipe): Column = {
    val c = raw.cast("double")
    fn match {
      // the reference aggregators buffer float64 — counts render "4.00"
      // under precision(2) (TestGroup)
      case "count" => count(raw).cast("double")
      case "sum" => sum(c)
      case "min" => min(c)
      case "max" => max(c)
      case "avg" | "mean" => avg(c)
      // ordering masked where the value is null so where()-filtered and
      // null records don't win the first/last slot (TestGroupWhere)
      case "first" => min_by(raw, when(raw.isNotNull, col(p.keyCol)))
      case "last" => max_by(raw, when(raw.isNotNull, col(p.keyCol)))
      case "stddev" => stddev_samp(c)
      case "variance" => var_samp(c)
      case "stderr" => stddev_samp(c) / sqrt(count(c))
      case "entropy" => graft.functions.StatFns.entropy(c)
      case "median" => quantileEmpirical(c, 0.5)
      case "medianInterpolated" | "median-interpolated" => quantileLinInterp(c, 0.5)
      case "rss" => sqrt(sum(c * c))
      case "rms" => sqrt(avg(c * c))
      case "list" => collect_list(raw)
      case other => throw new IllegalArgumentException(
        s"aggregator $other needs its argument list here (use GROUP)")
    }
  }

  /** BOXPLOT(value, category(), order(), boxplotInterp(q1,q2,q3),
    * boxplotOutput('standard'|'dict'|'chart')) — fm_stat.go:294-533.
    * Per-category quartiles with gonum Empirical/LinInterp selection,
    * 1.5·IQR whiskers, outliers; three output wire shapes. The grouping
    * and value collection run in Spark (one shuffle); the box math runs
    * on the driver over per-category arrays — output cardinality is the
    * category count. At 100 TB swap the exact quantiles for
    * percentile_approx per category; the wire shapes are unchanged.
    * Deviation: the standard format's OUTLIER row carries NULL cells
    * (Spark columns are typed double; the reference smuggles []any
    * through them and its CSV prints "[]interface {}") — outliers
    * travel properly in the dict/chart formats. */
  private[tql] def compileBoxplot(p: Pipe, args: List[Expr]): Pipe = {
    import Expr._
    import org.apache.spark.sql.types._
    import graft.operators.StatOps
    val spark = p.df.sparkSession
    val valueE = args.collectFirst {
      case e if !e.isInstanceOf[Call] => e
      case c @ Call(n, _) if !Set("category", "order", "boxplotInterp", "boxplotOutput")(n) => c
    }.getOrElse(throw new IllegalArgumentException("BOXPLOT needs a value expression"))
    val catE = args.collectFirst { case Call("category", List(e)) => e }
    val orders = args.collectFirst { case Call("order", os) =>
      os.collect { case Str(s) => s }
    }.getOrElse(Nil)
    val (iq1, iq2, iq3) = args.collectFirst {
      case Call("boxplotInterp", List(Bool(a), Bool(b), Bool(c))) => (a, b, c)
    }.getOrElse((false, false, false))
    val format = args.collectFirst {
      case Call("boxplotOutput", List(Str(f))) => f.toLowerCase
    }.getOrElse("standard")

    val catCol = catE.map(e => toColumn(e, p).cast("string")).getOrElse(lit(""))
    // Distributed two-phase plan: (1) per-category quartile agg — the
    // sort happens inside an executor-side aggregate, one shuffle, and
    // only #categories × 8 scalars reach the driver; (2) outliers are
    // re-filtered against the (broadcast-sized) bounds so the only
    // collected list is the outliers themselves, not the raw values.
    val vCol = toColumn(valueE, p).cast("double")
    val base = p.df.select(catCol.as("__cat"), vCol.as("__v"))
    def q(pq: Double, interp: Boolean) =
      if (interp) quantileLinInterp(col("__v"), pq) else quantileEmpirical(col("__v"), pq)
    val agg = base.groupBy("__cat").agg(
      min("__v").as("mn"), max("__v").as("mx"),
      q(0.25, iq1).as("q1"), q(0.5, iq2).as("q2"), q(0.75, iq3).as("q3"))
    val bounds = agg.withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo", col("q1") - lit(1.5) * col("iqr"))
      .withColumn("hi", col("q3") + lit(1.5) * col("iqr"))
    val outs = base.join(broadcast(bounds.select("__cat", "lo", "hi")), Seq("__cat"))
      .filter(col("__v") < col("lo") || col("__v") > col("hi"))
      .groupBy("__cat").agg(sort_array(collect_list(col("__v"))).as("outliers"))
    val rowsByCat = bounds.join(outs, Seq("__cat"), "left").collect().map { r =>
      r.getString(0) -> StatOps.BoxStats(
        r.getDouble(1), r.getAs[Double]("lo"), r.getAs[Double]("q1"),
        r.getAs[Double]("q2"), r.getAs[Double]("q3"), r.getAs[Double]("hi"),
        r.getDouble(2), r.getAs[Double]("iqr"),
        Option(r.getAs[scala.collection.Seq[Double]]("outliers"))
          .map(_.toSeq).getOrElse(Seq.empty))
    }.toMap
    val catNames = StatOps.sortCategoryNames(rowsByCat.keys.toSeq, orders)
    val stats = catNames.map(rowsByCat)
    def colName(c: String, i: Int) = if (c.isEmpty) s"boxplot_$i" else c

    format match {
      case "dict" =>
        def n(d: Double) = graft.sinks.Codecs.goFloat(d)
        val cells: Seq[Any] = stats.map { s =>
          s"""{"iqr":${n(s.iqr)},"lower":${n(s.lower)},"max":${n(s.max)},""" +
            s""""min":${n(s.min)},"outlier":[${s.outliers.map(n).mkString(",")}],""" +
            s""""q1":${n(s.q1)},"q2":${n(s.q2)},"q3":${n(s.q3)},"upper":${n(s.upper)}}"""
        }
        val schema = StructType(catNames.zipWithIndex.map { case (c, i) =>
          StructField(colName(c, i), StringType, nullable = true,
            new MetadataBuilder().putString("machtype", "dict").build())
        })
        val df = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            Seq(org.apache.spark.sql.Row.fromSeq(cells))).asJava), schema)
        Pipe(df, schema.fieldNames.head, schema.fieldNames.toSeq)
      case "chart" =>
        val schema = StructType(Seq(
          StructField("CATEGORY", StringType),
          StructField("BOXPLOT", ArrayType(DoubleType)),
          StructField("OUTLIER", ArrayType(StructType(Seq(
            StructField("category", StringType), StructField("value", DoubleType)))))))
        val rows = catNames.zip(stats).map { case (c, s) =>
          org.apache.spark.sql.Row(c,
            Seq(s.lower, s.q1, s.q2, s.q3, s.upper),
            s.outliers.map(o => org.apache.spark.sql.Row(c, o)))
        }
        val df = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        Pipe(df, "CATEGORY", Seq("CATEGORY", "BOXPLOT", "OUTLIER"))
      case _ =>
        val schema = StructType(StructField("CATEGORY", StringType) +:
          catNames.zipWithIndex.map { case (c, i) =>
            StructField(colName(c, i), DoubleType)
          })
        def row(label: String, f: StatOps.BoxStats => Any) =
          org.apache.spark.sql.Row.fromSeq(label +: stats.map(f))
        val rows = Seq(
          row("MIN", _.min), row("LOWER", _.lower), row("Q1", _.q1),
          row("Q2", _.q2), row("Q3", _.q3), row("UPPER", _.upper),
          row("MAX", _.max), row("IQR", _.iqr),
          org.apache.spark.sql.Row.fromSeq("OUTLIER" +: stats.map(_ => null)))
        val df = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        Pipe(df, "CATEGORY", schema.fieldNames.toSeq)
    }
  }

  /** buildAgg plus the option-bearing forms: quantile(v, p[, weight()])
    * and weight()-carrying mean/avg/variance/stddev/stderr (reference
    * weighted aggregators, fm_monad.go; TestGroup weighted battery). */
  private[tql] def buildAggFull(fn: String, c0: Column, rest: List[Expr], p: Pipe): Column = {
    import graft.functions.StatFns
    val c = c0.cast("double")
    val weightE = rest.collectFirst {
      case Expr.Call("weight", List(we)) => toColumn(we, p).cast("double")
    }
    val pq = rest.collectFirst { case Expr.Num(v) => v }
    (fn, weightE) match {
      // cdf(v, q): empirical CDF at q (fm_monad.go:935-940, 1324-1329)
      case ("cdf", None) =>
        StatFns.cdf(c, pq.getOrElse(
          throw new IllegalArgumentException("cdf(v, q)")))
      case ("cdf", Some(w)) =>
        StatFns.weightedCdf(c, w, pq.getOrElse(
          throw new IllegalArgumentException("cdf(v, q)")))
      // moment(v, k): k-th central moment (fm_monad.go:970-975, gonum)
      case ("moment", None) =>
        graft.functions.MomentAgg.moment(c, pq.map(_.toInt).getOrElse(
          throw new IllegalArgumentException("moment(v, k)")))
      case ("moment", Some(w)) =>
        graft.functions.MomentAgg.weightedMoment(c, w, pq.map(_.toInt).getOrElse(
          throw new IllegalArgumentException("moment(v, k)")))
      // two-column relation aggregators (GroupColumnRelation,
      // fm_monad.go:1213-1240): lrs = OLS slope of y on x; weight()
      // rides the y-slice (nums.WeightedFloat64Slice) like gonum's
      // weighted stat.* forms
      case ("lrs" | "correlation" | "covariance", wOpt) =>
        val y = rest.find(e => !isAggOption(e))
          .map(e => toColumn(e, p).cast("double"))
          .getOrElse(throw new IllegalArgumentException(s"$fn(x, y)"))
        (fn, wOpt) match {
          case ("lrs", None) => StatFns.lrs(c, y)
          case ("lrs", Some(w)) => StatFns.weightedLrs(c, y, w)
          case ("correlation", None) => corr(c, y)
          case ("correlation", Some(w)) => StatFns.weightedCorrelation(c, y, w)
          case (_, None) => covar_samp(c, y)
          case (_, Some(w)) => StatFns.weightedCovariance(c, y, w)
        }
      case ("quantile", None) =>
        quantileEmpirical(c, pq.getOrElse(
          throw new IllegalArgumentException("quantile(v, p)")))
      case ("quantile", Some(w)) =>
        weightedQuantile(c, w, pq.getOrElse(
          throw new IllegalArgumentException("quantile(v, p)")))
      case ("quantileInterpolated", None) =>
        quantileLinInterp(c, pq.getOrElse(
          throw new IllegalArgumentException("quantileInterpolated(v, p)")))
      case ("mode", None) => mode(c)
      case ("mode", Some(w)) => weightedMode(c, w)
      case ("mean" | "avg", Some(w)) => StatFns.weightedMean(c, w)
      case ("variance", Some(w)) => StatFns.weightedVariance(c, w)
      case ("stddev", Some(w)) => sqrt(StatFns.weightedVariance(c, w))
      case ("stderr", Some(w)) =>
        sqrt(StatFns.weightedVariance(c, w)) / sqrt(count(c))
      case _ => buildAgg(fn, c0, p)
    }
  }

  /** Weighted empirical quantile: smallest v_i (value-sorted) whose
    * cumulative weight reaches p·Σw — gonum stat.Quantile with weights. */
  private[tql] def weightedQuantile(v: Column, w: Column, p: Double): Column = {
    val pairs = sort_array(collect_list(struct(v.as("v"), w.as("w"))))
    val total = aggregate(pairs, lit(0d), (acc, pr) => acc + pr.getField("w"))
    val scan = aggregate(pairs,
      struct(lit(0d).as("cum"), lit(null).cast("double").as("ans")),
      (acc, pr) => {
        val cum2 = acc.getField("cum") + pr.getField("w")
        struct(cum2.as("cum"),
          when(acc.getField("ans").isNull && cum2 >= lit(p) * total,
            pr.getField("v")).otherwise(acc.getField("ans")).as("ans"))
      })
    scan.getField("ans")
  }

  /** Weighted mode: the value whose weights sum highest. Sorted pairs
    * collapse into runs inside one aggregate-HOF scan (ties keep the
    * smallest value). */
  private[tql] def weightedMode(v: Column, w: Column): Column = {
    val pairs = sort_array(collect_list(struct(v.as("v"), w.as("w"))))
    val zero = struct(
      lit(null).cast("double").as("curV"), lit(0d).as("cur"),
      lit(null).cast("double").as("bestV"), lit(Double.MinValue).as("best"))
    val scanned = aggregate(pairs, zero,
      (acc, pr) => {
        val sameRun = acc.getField("curV") === pr.getField("v")
        val cur2 = when(sameRun, acc.getField("cur") + pr.getField("w"))
          .otherwise(pr.getField("w"))
        val closeBetter = acc.getField("curV").isNotNull && !sameRun &&
          acc.getField("cur") > acc.getField("best")
        struct(pr.getField("v").as("curV"), cur2.as("cur"),
          when(closeBetter, acc.getField("curV")).otherwise(acc.getField("bestV")).as("bestV"),
          when(closeBetter, acc.getField("cur")).otherwise(acc.getField("best")).as("best"))
      },
      acc => when(acc.getField("cur") > acc.getField("best"),
        acc.getField("curV")).otherwise(acc.getField("bestV")))
    scanned
  }

  private[tql] def compileGroup(p: Pipe, args: List[Expr]): Pipe = {
    import Expr._
    // GROUP(timewindow(from, until, period), aggs…) — tumbling buckets
    // over value(0) as time, empty buckets synthesized + gap-filled
    // (reference fm_monad.go:640-697)
    args.collectFirst { case Call("timewindow", twArgs) => twArgs } match {
      case Some(twArgs) => return compileTimewindow(p, twArgs, args)
      case None =>
    }
    // GROUP(by(time, timewindow(from, until, period) [, name]), aggs…) —
    // the CAUSAL per-aggregator-fill form (fm_monad GroupFillerPredict;
    // TestGroupByTimeWindow): each aggregator carries its own
    // nullValue()/predict(), fills fitted only on already-seen windows.
    args.collectFirst {
      case Call("by", timeE :: Call("timewindow", twArgs) :: byRest) =>
        (timeE, twArgs, byRest)
    } match {
      case Some((timeE, twArgs, byRest)) =>
        import graft.operators.GapFill
        def ns(e: Expr): Long = evalConstNs(e)
        val (fromNs, untilNs, periodNs) = twArgs match {
          case List(f, u, Call("period", List(Str(d)))) =>
            (ns(f), ns(u), graft.time.TimeFns.parseDurationNs(d))
          case List(f, u, per) => (ns(f), ns(u), ns(per))
          case _ => throw new IllegalArgumentException("timewindow(from, until, period)")
        }
        val byName = byRest.collectFirst { case Str(s) => s }.getOrElse("GROUP")
        val aggs = args.collect {
          case Call(fn, e :: rest) if aggNames(fn) =>
            val name = rest.collectFirst { case Str(s) => s }.getOrElse(fn.toUpperCase)
            val fill = GapFill.CausalFill(
              rest.collectFirst { case Call("predict", List(Str(k))) => k.toLowerCase },
              rest.collectFirst { case Call("nullValue", List(Num(v))) => v })
            (name, buildAggFull(fn, toColumn(e, p), rest, p), fill)
        }
        require(aggs.nonEmpty, "GROUP(timewindow) needs at least one aggregator")
        // ns-normalize on the TIME EXPRESSION's own type — not values.head,
        // which may be a different (non-time) column when time isn't first
        val timeType = p.df.select(toColumn(timeE, p)).schema.head.dataType
        val tsCol = timeType match {
          case _: org.apache.spark.sql.types.TimestampType =>
            unix_micros(toColumn(timeE, p)) * 1000L
          case _ => toColumn(timeE, p).cast("long")
        }
        // first window >= from, last window < until — ABSOLUTE alignment
        val firstW = Math.floorDiv(fromNs + periodNs - 1, periodNs) * periodNs
        val lastWExcl = (Math.floorDiv(untilNs - 1, periodNs) + 1) * periodNs
        val out = GapFill.timewindowCausal(p.df.sparkSession, p.df, tsCol,
          firstW, lastWExcl, periodNs, aggs, byName)
        return Pipe(out, byName, byName +: aggs.map(_._1))
      case None =>
    }
    var byExpr: Option[(Column, String)] = None
    val aggs = Vector.newBuilder[(Column, String)]
    val stringFills = scala.collection.mutable.Map.empty[String, String]
    args.foreach {
      case Call("by", e :: _) if (e match {
        // literal NULL, or a SET variable holding NULL (TestGroup)
        case Expr.Null => true
        case Expr.Var(n) if p.df.columns.contains(s"$$$n") =>
          p.df.schema(s"$$$n").dataType == org.apache.spark.sql.types.NullType
        case _ => false
      }) =>
        throw new IllegalArgumentException("GROUP() has by() with NULL")
      case Call("by", e :: rest) =>
        val name = rest.collectFirst { case Str(s) => s }.getOrElse("GROUP")
        byExpr = Some((toColumn(e, p), name))
      case Call("lazy", _) => // emission-order hint; hash agg + orderBy covers it
      case Call(fn, e :: rest) if aggNames(fn) =>
        // default result-column names are UPPERCASE (TestGroup header
        // GROUP,FIRST,LAST,AVG,SUM,COUNT); median/quantile share the
        // QUANTILE default
        val name = rest.collectFirst { case Str(s) => s }.getOrElse(
          if (fn == "median" || fn == "medianInterpolated" ||
            fn.startsWith("quantile")) "QUANTILE" else fn.toUpperCase)
        // where(pred): per-aggregator filter (reference fm_monad.go:559-563)
        val whereP = rest.collectFirst { case Call("where", List(pred)) => toColumn(pred, p) }
        val raw = toColumn(e, p)
        val c = whereP.map(w => when(w, raw)).getOrElse(raw)
        // count appends unconditionally — a null value still counts
        // (GroupColumnCounter.Append, fm_monad.go:1433-1437); only a
        // where() miss skips the record. Numeric aggregators silently
        // drop non-coercible values (push discards Append's error),
        // which cast("double")+null-skip already models.
        val built0 =
          if (fn == "count")
            whereP.map(w => count(when(w, lit(1)))).getOrElse(count(lit(1))).cast("double")
          else buildAggFull(fn, c, rest, p)
        // per-aggregator nullValue(): numeric fills coalesce; string
        // fills ride column metadata so the sink renders them raw while
        // data cells keep float formatting (TestGroupWhere "1" vs 2.00)
        val built = rest.collectFirst { case Call("nullValue", List(nv)) => nv } match {
          case Some(Num(v)) => coalesce(built0, lit(v))
          case Some(Str(sfill)) => stringFills += (name -> sfill); built0
          case _ => built0
        }
        aggs += ((built, name))
      case Expr.Bool(_) =>
        throw new IllegalArgumentException("GROUP() unknown type 'bool' in arguments")
      case other => throw new IllegalArgumentException(s"unsupported GROUP arg: $other")
    }
    val aggList = aggs.result()
    if (aggList.isEmpty) throw new IllegalArgumentException("GROUP() has no aggregator")
    // no by(): aggregate-all — one result row of just the aggregator
    // columns (Group.push __group_by_all, fm_monad.go:529-543;
    // task_test.go GROUP(correlation/moment/variance) with no by())
    val df0 = byExpr match {
      case Some((byCol, byName)) =>
        p.df.groupBy(byCol.as(byName))
          .agg(aggList.head._1.as(aggList.head._2),
            aggList.tail.map { case (c, n) => c.as(n) }: _*)
          .orderBy(vcol(byName)) // reference emits key-sorted (lazy mode sorts, fm_monad.go:470)
      case None =>
        p.df.agg(aggList.head._1.as(aggList.head._2),
          aggList.tail.map { case (c, n) => c.as(n) }: _*)
    }
    // string nullValue() fills travel as column metadata (sink-side raw
    // null rendering, TestGroupWhere)
    val df = stringFills.foldLeft(df0) { case (d, (n, fillStr)) =>
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("nullas", fillStr).build()
      d.withColumn(n, d(n).as(n, meta))
    }
    // the group key is result column 0 (reference synthesizes result
    // columns from by()+aggregators, fm_monad.go:405-425); with no by()
    // the first aggregator column leads
    byExpr match {
      case Some((_, byName)) => Pipe(df, byName, byName +: aggList.map(_._2))
      case None => Pipe(df, aggList.head._2, aggList.map(_._2))
    }
  }

  private[tql] def compileTimewindow(p: Pipe, twArgs: List[Expr], args: List[Expr]): Pipe = {
    import Expr._
    import graft.operators.GapFill
    def ns(e: Expr): Long = e match {
      case Num(v) => v.toLong
      case Call("time", List(Num(v))) => v.toLong
      case Str(s) => graft.time.TimeFns.parseDurationNs(s)
      case other => throw new IllegalArgumentException(s"bad timewindow arg $other")
    }
    val (fromNs, untilNs, periodNs) = twArgs match {
      case List(f, u, per) => (ns(f), ns(u), ns(per))
      case _ => throw new IllegalArgumentException("timewindow(from, until, period)")
    }
    val fill: GapFill.Fill = args.collectFirst {
      case Call("nullValue", List(Num(v))) => GapFill.FillConst(v)
      case Call("predict", List(Str(kind))) => kind.toLowerCase match {
        case "piecewiseconstant" => GapFill.FillPrevious
        case "piecewiselinear" => GapFill.FillLinear
        case "akimaspline" => GapFill.FillAkima
        case "fritschbutland" => GapFill.FillFritschButland
        case "linearregression" => GapFill.FillLinReg
        case k => throw new IllegalArgumentException(s"unknown predict($k)")
      }
    }.getOrElse(GapFill.FillNull)
    val aggs = args.collect {
      case Call(fn, e :: rest) if aggNames(fn) =>
        val name = rest.collectFirst { case Str(s) => s }.getOrElse(fn)
        // same where()/count semantics as plain GROUP: where() gates the
        // append, count still counts null values
        val whereP = rest.collectFirst { case Call("where", List(pred)) => toColumn(pred, p) }
        val raw = toColumn(e, p)
        val c = whereP.map(w => when(w, raw)).getOrElse(raw)
        name -> (if (fn == "count")
          whereP.map(w => count(when(w, lit(1)))).getOrElse(count(lit(1))).cast("double")
        else buildAggFull(fn, c, rest, p))
    }
    require(aggs.nonEmpty, "GROUP(timewindow) needs at least one aggregator")
    // the record's time is value(0), per the reference's record layout
    val timeCol = col(p.values.head)
    val out = GapFill.timewindow(p.df.sparkSession, p.df, timeCol,
      fromNs, untilNs, periodNs, aggs, fill)
      .withColumnRenamed("bucket_ns", "time")
    Pipe(out, "time", "time" +: aggs.map(_._1))
  }

  // ---------------- WHEN ----------------
  /** How many WHEN log lines the driver re-emits before suppressing: a
    * broad predicate at scale floods the task log otherwise. */
  private[tql] val WhenLogCap = 1000

  /** WHEN(cond, action) side effects (reference fm_monad.go single-
    * goroutine stream). `doLog`/`doHttp` run executor-side over the
    * filtered frame — nothing data-sized reaches the driver: doLog ships
    * a capped (partition, seq)-tagged sample back through [[WhenLogAcc]]
    * and the driver re-emits it in stream order; doHttp serializes the
    * ordered exchanges through one executor task (the reference's
    * contract is ordered, serialized emission — its tests pin request
    * order). Only the `do()` sub-routine keeps a driver collect: each
    * matching record compiles and runs a fresh TQL block, a driver
    * facility by design (and bounded by the same predicate the reference
    * runs inline). */
  private[tql] def runWhen(p: Pipe, cond: Expr, action: Expr): Unit = {
    import Expr._
    val spark = p.df.sparkSession
    def ordered: DataFrame = {
      val df = p.df.filter(toColumn(cond, p))
      if (df.columns.contains(p.keyCol)) df.orderBy(vcol(p.keyCol)) else df
    }
    def fmtV(v: Any): String = graft.sinks.GoTemplate.fmtVal(v)
    action match {
      case Call("doLog", argEs) =>
        val acc = new WhenLogAcc(WhenLogCap)
        spark.sparkContext.register(acc, "when_doLog")
        ordered.select(argEs.map(toColumn(_, p)): _*)
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            var i = 0L
            it.foreach { row =>
              acc.add((pid, i,
                row.toSeq.map(graft.sinks.GoTemplate.fmtVal).mkString(" ")))
              i += 1L
            }
          }
        acc.value.foreach(t => TqlLog.log("INFO", t._3))
        if (acc.suppressed > 0)
          TqlLog.log("WARN",
            s"doLog: ${acc.suppressed} further lines suppressed (cap $WhenLogCap)")
      case Call("do", argEs :+ Call("__block", List(Str(sub)))) =>
        // sub-routine: compile the block once per matching record with its
        // args bound (ARGS()/FAKE(args())/args(i) read them)
        ordered.select(argEs.map(toColumn(_, p)): _*).collect().foreach { r =>
          val c = compile(spark, sub, currentNowNs.get,
            currentParams.get + ("args" -> r.toSeq.map(fmtV)))
          if (c.sink.format != "DISCARD")
            TqlLog.log("WARN",
              s"do: ${c.sink.format}() sink does not work in a sub-routine")
        }
      case Call("doHttp", methodE :: urlE :: bodyE :: headerEs) =>
        // one exchange per matching record (fm_monad.go HttpDoer.Do);
        // loopback-only in this build — non-loopback hosts are refused
        val headers = headerEs.collect { case Str(s) => s }
        // doHttp(…, value()) posts the WHOLE record (the reference's
        // record value is the values array); value(i)/other exprs post
        // that single cell; nil posts nothing
        val bodyExprs: List[Expr] = bodyE match {
          case Null | Ident("nil") => Nil
          case Call("value", Nil) =>
            p.values.indices.toList.map(i => Call("value", List(Num(i))))
          case other => List(other)
        }
        val hasBody = bodyExprs.nonEmpty
        val method = constString(methodE)
        val acc = new WhenLogAcc(WhenLogCap)
        spark.sparkContext.register(acc, "when_doHttp")
        // coalesce(1) concatenates the sorted partitions in order: one
        // executor task issues every exchange in stream order
        ordered.select((urlE :: bodyExprs).map(toColumn(_, p)): _*)
          .coalesce(1)
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            var i = 0L
            def emit(lvl: String, msg: String): Unit = {
              acc.add((pid, i, lvl + "\u0000" + msg)); i += 1L
            }
            it.foreach { row =>
              val url = String.valueOf(row.get(0))
              val body = if (hasBody) Some(row.toSeq.tail) else None
              try graft.server.HttpLoop.doHttp(method, url, body, headers, emit)
              catch { case e: Exception =>
                emit("WARN", s"http-doer ${e.getMessage}")
              }
            }
          }
        acc.value.foreach { t =>
          val sep = t._3.indexOf('\u0000')
          TqlLog.log(t._3.take(sep), t._3.drop(sep + 1))
        }
        if (acc.suppressed > 0)
          TqlLog.log("WARN",
            s"doHttp: ${acc.suppressed} further lines suppressed (cap $WhenLogCap)")
      case other => throw new IllegalArgumentException(s"unsupported WHEN action: $other")
    }
  }

  // ---------------- SCRIPT ----------------
  /** `$.db([{bridge}]).query(sql, binds…)` in driver-side SCRIPT: columns
    * + rows via the query door (or the named bridge); values converted to
    * JS types. */
  private[tql] def scriptDbQuery(spark: SparkSession)(
      bridgeName: Option[String], sql: String,
      binds: Seq[Any]): (Seq[String], Seq[Seq[Any]]) = {
    val df = bridgeName match {
      case Some(b) => graft.server.Bridge(b).query(spark, sql, binds)
      case None => graft.server.QueryDoor.execute(spark,
        graft.server.Bridge.bindSql(sql, binds))
    }
    (df.columns.toSeq,
      df.collect().toSeq.map(_.toSeq.map(graft.script.ScriptOps.toJs)))
  }

  /** `$.db([{bridge}]).exec(sql, binds…)` in driver-side SCRIPT; failures
    * come back as JS Error objects (the create-tqlbin fixture checks
    * `ret instanceof Error` — tql_test.go:756-775). */
  private[tql] def scriptDbExec(spark: SparkSession)(
      bridgeName: Option[String], sql: String, binds: Seq[Any]): Any =
    try {
      bridgeName match {
        case Some(b) => graft.server.Bridge(b).exec(spark, sql, binds)
        case None => graft.server.QueryDoor.execute(spark,
          graft.server.Bridge.bindSql(sql, binds)).collect()
      }
      graft.script.Interp.JsUndefined
    } catch {
      case e: Exception =>
        graft.script.Interp.errObj("Error",
          Option(e.getMessage).getOrElse(e.toString))
    }

  /** SCRIPT("js"?, main | init, main | init, main, deinit) block split —
    * reference fm_script.go:34-78. */
  private[tql] def scriptBlocks(args: List[Expr]): (String, String, String) = {
    val code0 = args.collect { case Expr.Str(s) => s }
    require(code0.size == args.size, "SCRIPT: arguments must be code blocks")
    val code = if (code0.nonEmpty && code0.head.trim == "js") code0.tail else code0
    code match {
      case List(m) => ("", m, "")
      case List(i, m) => (i, m, "")
      case List(i, m, d) => (i, m, d)
      case _ => throw new IllegalArgumentException(
        "script: wrong syntax, 'SCRIPT( init_script, main_script, deinit_script )'")
    }
  }

  /** SCRIPT as source: one main-block pass with `$.payload` bound
    * (fm_script.go:184-190). */
  private[tql] def compileScriptSource(spark: SparkSession, args: List[Expr]): Pipe = {
    val (i, m, d) = scriptBlocks(args)
    val res = graft.script.ScriptOps.run(Iterator.empty, isSource = true,
      i, m, d, currentNowNs.get, currentParams.get, paramFirst("payload"),
      Some(scriptDbExec(spark)), Some(scriptDbQuery(spark)),
      deadlineNanoTime = currentDeadline.get)
    res.logs.foreach { case (lvl, msg) => TqlLog.log(lvl, msg) }
    buildScriptPipe(spark, res, upstreamEnv = None)
  }

  /** SCRIPT as map: records visit the main block in key order. A SCRIPT
    * block may carry arbitrary cross-record state (the accumulate-then-
    * finalize pattern), which serializes the stream by definition — the
    * reference has the identical property (one goja event loop per node,
    * fm_script.go:123-180). Upstream rows stream through toLocalIterator;
    * the yielded result becomes a LocalRelation, which matches TQL's
    * presentation-sized result contract. For distributed per-partition
    * scripting over big data use `graft.script.ScriptOps.mapScript`. */
  private[tql] def compileScriptMap(p: Pipe, args: List[Expr]): Pipe = {
    import scala.jdk.CollectionConverters._
    val (i, m, d) = scriptBlocks(args)
    val spark = p.df.sparkSession
    val schema = p.df.schema
    val hasKey = p.df.columns.contains(p.keyCol)
    val valIdx = p.values.map(schema.fieldIndex)
    val varCols = p.df.columns.filter(_.startsWith("$")).toSeq
    val varIdx = varCols.map(schema.fieldIndex)
    val keyIdx = if (hasKey) schema.fieldIndex(p.keyCol) else -1
    val ordered = if (hasKey) p.df.orderBy(vcol(p.keyCol)) else p.df
    var ordinal = 0L
    val records = ordered.toLocalIterator().asScala.map { row =>
      ordinal += 1
      val key: Any =
        if (keyIdx >= 0) graft.script.ScriptOps.toJs(row.get(keyIdx))
        else java.lang.Long.valueOf(ordinal)
      val values = valIdx.map(ix => graft.script.ScriptOps.toJs(row.get(ix)))
      val vars = varCols.zip(varIdx).map { case (c, ix) =>
        c.stripPrefix("$") -> graft.script.ScriptOps.toJs(row.get(ix))
      }.toMap
      (key, values, vars)
    }
    val res = graft.script.ScriptOps.run(records, isSource = false,
      i, m, d, currentNowNs.get, currentParams.get, None,
      Some(scriptDbExec(spark)), Some(scriptDbQuery(spark)),
      deadlineNanoTime = currentDeadline.get)
    res.logs.foreach { case (lvl, msg) => TqlLog.log(lvl, msg) }
    // envelope: $.result wins; else the reference keeps the INPUT node's
    // column metadata even when yield arity differs (fm_script_test.go:74+)
    val upstreamEnv = (p.values,
      p.values.map(n => graft.sinks.Codecs.typeName(schema(n).dataType)))
    buildScriptPipe(spark, res, Some(upstreamEnv))
  }

  /** Yielded records → LocalRelation DataFrame with `_key`, value columns
    * (declared names > input names > columnN), and `$var` snapshots. */
  private[tql] def buildScriptPipe(spark: SparkSession,
                              res: graft.script.ScriptOps.ScriptResult,
                              upstreamEnv: Option[(Seq[String], Seq[String])]): Pipe = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import graft.script.ScriptOps
    import scala.jdk.CollectionConverters._
    val rows = res.rows
    val arity =
      if (rows.isEmpty) upstreamEnv.map(_._1.size).getOrElse(0)
      else rows.iterator.map(_._2.size).max
    val envelope = res.envelope.orElse(upstreamEnv)
    val baseNames = res.envelope.map(_._1).orElse(upstreamEnv.map(_._1)).getOrElse(Seq.empty)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val names = (0 until arity).map { ix =>
      var n = if (ix < baseNames.size) baseNames(ix) else s"column$ix"
      while (!seen.add(n)) n = n + "_"
      n
    }
    val colTypes = (0 until arity).map(ix =>
      ScriptOps.inferType(rows.map(r => if (ix < r._2.size) r._2(ix) else null)))
    val keyType = ScriptOps.inferType(rows.map(_._1))
    val varNames = {
      val s = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach(r => r._3.keysIterator.foreach(s.add))
      s.toSeq
    }
    val varTypes = varNames.map(n =>
      ScriptOps.inferType(rows.map(_._3.getOrElse(n, null))))
    val schema = StructType(
      StructField("_key", keyType) +:
      (names.zip(colTypes).map { case (n, t) => StructField(n, t) } ++
       varNames.zip(varTypes).map { case (n, t) => StructField(s"$$$n", t) }))
    val data: java.util.List[Row] = rows.map { case (k, vs, vars) =>
      Row.fromSeq(
        ScriptOps.fromJs(k, keyType) +:
        ((0 until arity).map(ix =>
          ScriptOps.fromJs(if (ix < vs.size) vs(ix) else null, colTypes(ix))) ++
         varNames.zip(varTypes).map { case (n, t) =>
           ScriptOps.fromJs(vars.getOrElse(n, null), t) }))
    }.asJava
    Pipe(spark.createDataFrame(data, schema), "_key", names, envelope)
  }
}
