package perfbench

/** One pass of the `pipeline` workload: the program's own mains, run one
  * after another in this JVM. Each main builds and stops its own
  * SparkSession, as it does when run alone; the listeners reach every
  * session through the `spark.*` system properties.
  *
  * Usage: perfbench.Mains <out.json> <class> <arg>... [-- <class> <arg>...]...
  * The result names each main with its start and end, every session's
  * start and stop, the master of the sessions and, when tracing, the
  * spans.
  */
object Mains {
  def main(args: Array[String]): Unit = {
    val groups = args.drop(1).foldLeft(List(List.empty[String])) {
      case (acc, "--") => Nil :: acc
      case (cur :: rest, a) => (a :: cur) :: rest
      case (Nil, a) => List(List(a))
    }.map(_.reverse).reverse.filter(_.nonEmpty)
    val runs = groups.map { g =>
      val t0 = Trace.now()
      Class.forName(g.head).getMethod("main", classOf[Array[String]])
        .invoke(null, g.tail.toArray)
      s"""{"main":${Json.str(g.head)},"t0":${Json.num(t0)},"t1":${Json.num(Trace.now())}}"""
    }
    val apps = Trace.apps.synchronized(Trace.apps.toList)
      .map { case (a, b) => s"[${Json.num(a)},${Json.num(b)}]" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      s"""{"master":${Json.str(Trace.master)},"mains":[${runs.mkString(",")}],""" +
        s""""apps":[${apps.mkString(",")}],""" +
        s""""spans":[${Trace.all().map(_.json).mkString(",\n")}]}""" + "\n")
  }
}
