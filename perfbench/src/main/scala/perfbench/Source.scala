package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, DriverPropertyInfo, PreparedStatement, ResultSet, Statement, Timestamp}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Random

/** The stand-in for Superset's PostgreSQL: an in-memory Derby database
  * with Superset's `logs`, `ab_user` and `dashboards` tables, filled from
  * the seed. `day0` is the first simulated day; the initial `logs` rows
  * span the 13 months before it.
  */
final class Source(val name: String, seed: Long, val logRows: Int,
                   val users: Int, val dashboards: Int) {
  val url = s"jdbc:derby:memory:$name"
  private val rnd = new Random(seed)
  private val dayMs = 24L * 3600 * 1000
  val day0: Long = Timestamp.valueOf("2025-01-01 00:00:00").getTime
  private val historyMs = 396L * dayMs

  private var nextLogId = 1L
  private var nextUserId = 1
  /** Rows inserted or changed by the latest `applyDelta`, per table. */
  var lastDelta: Map[String, Int] = Map.empty

  def connect(): Connection = DriverManager.getConnection(url)

  private def withConn[T](f: Connection => T): T = {
    val c = connect()
    try f(c) finally c.close()
  }

  private val actions = Seq("log", "dashboard", "explore", "sqllab", "chart",
    "welcome", "api_v1", "export", "annotation")
  private val referrers = Seq("https://bi.example.com/superset/welcome/",
    "https://bi.example.com/dashboard/list/", "https://bi.example.com/chart/list/")

  private def opt[T](p: Double)(v: => T): Option[T] =
    if (rnd.nextDouble() < p) None else Some(v)

  /** Create the schema and insert the initial rows. */
  def create(): Unit = {
    val c = DriverManager.getConnection(url + ";create=true")
    try populate(c) finally c.close()
  }

  private def populate(c: Connection): Unit = {
    val st = c.createStatement()
    st.executeUpdate(
      """CREATE TABLE logs (id BIGINT NOT NULL PRIMARY KEY, action VARCHAR(64),
        |  user_id INT, json VARCHAR(2000), dttm TIMESTAMP NOT NULL,
        |  dashboard_id INT, slice_id INT, duration_ms INT, referrer VARCHAR(256))""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE ab_user (id INT NOT NULL PRIMARY KEY, username VARCHAR(64) NOT NULL,
        |  first_name VARCHAR(64), last_name VARCHAR(64), email VARCHAR(128),
        |  login_count INT, changed_on TIMESTAMP NOT NULL)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE dashboards (id INT NOT NULL PRIMARY KEY, dashboard_title VARCHAR(256),
        |  slug VARCHAR(128), json_metadata VARCHAR(2000), published SMALLINT,
        |  changed_on TIMESTAMP NOT NULL)""".stripMargin)
    st.close()
    c.setAutoCommit(false)
    insertUsers(c, users, day0 - historyMs, historyMs)
    val ps = c.prepareStatement("INSERT INTO dashboards VALUES (?,?,?,?,?,?)")
    (1 to dashboards).foreach { d =>
      ps.setInt(1, d)
      setStr(ps, 2, opt(0.05)(s"Dashboard $d: ${actions(rnd.nextInt(actions.length))}"))
      setStr(ps, 3, opt(0.3)(s"dash-$d"))
      setStr(ps, 4, opt(0.2)(s"""{"color_scheme":"c${rnd.nextInt(8)}","refresh_frequency":${rnd.nextInt(600)}}"""))
      setInt(ps, 5, opt(0.1)(rnd.nextInt(2)))
      ps.setTimestamp(6, new Timestamp(day0 - historyMs + (rnd.nextDouble() * historyMs).toLong / 1000 * 1000))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
    val times = Array.fill(logRows)((rnd.nextDouble() * historyMs).toLong / 1000 * 1000).sorted
    insertLogs(c, times.map(day0 - historyMs + _))
    c.commit()
  }

  private def setStr(ps: PreparedStatement, i: Int, v: Option[String]): Unit =
    v match { case Some(s) => ps.setString(i, s); case None => ps.setNull(i, java.sql.Types.VARCHAR) }
  private def setInt(ps: PreparedStatement, i: Int, v: Option[Int]): Unit =
    v match { case Some(x) => ps.setInt(i, x); case None => ps.setNull(i, java.sql.Types.INTEGER) }

  private def insertUsers(c: Connection, n: Int, from: Long, spanMs: Long): Unit = {
    val ps = c.prepareStatement("INSERT INTO ab_user VALUES (?,?,?,?,?,?,?)")
    (0 until n).foreach { _ =>
      val id = nextUserId; nextUserId += 1
      ps.setInt(1, id)
      ps.setString(2, s"user_$id")
      setStr(ps, 3, opt(0.1)(s"First$id"))
      setStr(ps, 4, opt(0.1)(s"Last${id % 97}"))
      setStr(ps, 5, opt(0.2)(s"user$id@example.com"))
      setInt(ps, 6, opt(0.1)(rnd.nextInt(5000)))
      ps.setTimestamp(7, new Timestamp(from + (rnd.nextDouble() * spanMs).toLong / 1000 * 1000))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
  }

  private def insertLogs(c: Connection, times: Array[Long]): Unit = {
    val ps = c.prepareStatement("INSERT INTO logs VALUES (?,?,?,?,?,?,?,?,?)")
    var i = 0
    while (i < times.length) {
      val id = nextLogId; nextLogId += 1
      ps.setLong(1, id)
      setStr(ps, 2, opt(0.05)(actions(rnd.nextInt(actions.length))))
      setInt(ps, 3, opt(0.05)(1 + rnd.nextInt(nextUserId - 1)))
      setStr(ps, 4, opt(0.3)(
        s"""{"path":"/superset/dashboard/${rnd.nextInt(dashboards) + 1}/","event_name":"e${rnd.nextInt(40)}","ts":${times(i)}}"""))
      ps.setTimestamp(5, new Timestamp(times(i)))
      setInt(ps, 6, opt(0.4)(1 + rnd.nextInt(dashboards)))
      setInt(ps, 7, opt(0.6)(1 + rnd.nextInt(5000)))
      setInt(ps, 8, opt(0.2)(rnd.nextInt(30000)))
      setStr(ps, 9, opt(0.5)(referrers(rnd.nextInt(referrers.length))))
      ps.addBatch()
      i += 1
      if (i % 5000 == 0) ps.executeBatch()
    }
    ps.executeBatch(); ps.close()
  }

  /** One simulated day's changes, all timestamped inside day `day`
    * (1-based): new `logs` rows, a few new users, and version updates
    * of existing users and dashboards (in place, with a newer
    * `changed_on`, as Superset writes them).
    */
  def applyDelta(day: Int, newLogs: Int, userUpdates: Int, dashUpdates: Int): Unit =
    withConn { c =>
      c.setAutoCommit(false)
      val from = day0 + (day - 1) * dayMs
      def at(): Timestamp = new Timestamp(from + (rnd.nextDouble() * dayMs).toLong / 1000 * 1000)
      val newUsers = 2
      insertUsers(c, newUsers, from, dayMs)
      val ids = rnd.shuffle((1 until nextUserId - newUsers).toVector).take(userUpdates)
      val pu = c.prepareStatement(
        "UPDATE ab_user SET username = ?, login_count = ?, changed_on = ? WHERE id = ?")
      ids.foreach { id =>
        pu.setString(1, s"user_${id}_d$day"); setInt(pu, 2, opt(0.1)(rnd.nextInt(5000)))
        pu.setTimestamp(3, at()); pu.setInt(4, id); pu.addBatch()
      }
      pu.executeBatch(); pu.close()
      val dids = rnd.shuffle((1 to dashboards).toVector).take(dashUpdates)
      val pd = c.prepareStatement(
        "UPDATE dashboards SET dashboard_title = ?, changed_on = ? WHERE id = ?")
      dids.foreach { id =>
        setStr(pd, 1, opt(0.05)(s"Dashboard $id (rev $day)"))
        pd.setTimestamp(2, at()); pd.setInt(3, id); pd.addBatch()
      }
      pd.executeBatch(); pd.close()
      insertLogs(c, Array.fill(newLogs)((rnd.nextDouble() * dayMs).toLong / 1000 * 1000).sorted.map(from + _))
      c.commit()
      lastDelta = Map("logs" -> newLogs, "ab_user" -> (newUsers + ids.size),
        "dashboards" -> dids.size)
    }

  /** Upper id bound for the partitioned JDBC scan of `table`. */
  def maxId(table: String): Long = table match {
    case "logs" => nextLogId - 1
    case "ab_user" => nextUserId - 1
    case _ => dashboards
  }

  def totalRows: Long = maxId("logs") + maxId("ab_user") + dashboards

  /** Rows of a Derby query as canonical strings (see [[Canon]]). */
  def query(sql: String, args: Any*): Seq[String] = withConn { c =>
    val ps = c.prepareStatement(sql)
    args.zipWithIndex.foreach {
      case (t: Timestamp, i) => ps.setTimestamp(i + 1, t)
      case (v: Int, i) => ps.setInt(i + 1, v)
      case (v: Long, i) => ps.setLong(i + 1, v)
      case (v, i) => ps.setString(i + 1, v.toString)
    }
    val rs = ps.executeQuery()
    val n = rs.getMetaData.getColumnCount
    val out = mutable.ArrayBuffer.empty[String]
    while (rs.next()) out += (1 to n).map(i => Canon(rs.getObject(i))).mkString("|")
    rs.close(); ps.close()
    out.sorted.toSeq
  }

  def drop(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
}

/** One canonical text form for a value from Derby or from Spark, so the
  * two sides of a check compare as strings.
  */
object Canon {
  def apply(v: Any): String = v match {
    case null => "NULL"
    case b: java.math.BigDecimal if b.scale <= 0 || b.stripTrailingZeros.scale <= 0 =>
      b.toBigInteger.toString
    case n: java.lang.Integer => n.toString
    case n: java.lang.Long => n.toString
    case n: java.lang.Short => n.toString
    case t: Timestamp => t.toString
    case d: java.sql.Date => d.toString
    case other => other.toString
  }
}

/** A JDBC driver that hands out Derby connections and counts what the
  * source serves: statements executed as queries and rows returned. The
  * benchmark names it in the JDBC options of the loads' scans, with the
  * [[CountingDriver.Marker]] property set; without the marker it serves
  * nothing, so `DriverManager` never picks it on its own.
  */
final class CountingDriver extends java.sql.Driver {
  override def connect(url: String, info: java.util.Properties): Connection =
    if (info == null || info.getProperty(CountingDriver.Marker) != "1") null
    else {
      val inner = DriverManager.getDriver(url).connect(url, info)
      if (inner == null) null else CountingDriver.wrap(inner, classOf[Connection])
    }
  override def acceptsURL(url: String): Boolean = false
  override def getPropertyInfo(url: String, info: java.util.Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("perfbench")
}

object CountingDriver {
  val Marker = "perfbench.count"
  val queries = new AtomicLong()
  val rows = new AtomicLong()

  def wrap[T](target: AnyRef, iface: Class[T]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target)).asInstanceOf[T]

  private final class Handler(target: AnyRef) extends InvocationHandler {
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val r = try (if (args == null) m.invoke(target) else m.invoke(target, args: _*))
      catch { case e: InvocationTargetException => throw e.getCause }
      (m.getName, r) match {
        case ("next", b: java.lang.Boolean) =>
          if (b) rows.incrementAndGet(); r
        case ("executeQuery", rs: ResultSet) =>
          queries.incrementAndGet(); wrap(rs, classOf[ResultSet])
        case ("prepareStatement", ps: PreparedStatement) => wrap(ps, classOf[PreparedStatement])
        case ("createStatement", st: Statement) => wrap(st, classOf[Statement])
        case _ => r
      }
    }
  }
}
