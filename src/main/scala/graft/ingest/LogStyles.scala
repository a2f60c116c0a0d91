package graft.ingest

import WebPagesGen.mix

/** Multi-style log fixtures — the engine-side analog of the reference's
  * `<Algo>/benchmark.py::benchmark_settings` sweep (per-dataset log_format + rex +
  * st/depth). Format strings and rex lists follow the reference's configuration
  * shapes (FIXTURES.md §3); all line CONTENT below is original.
  */
object LogStyles {

  private def pick(h: Long, n: Int): Int = ((h & Long.MaxValue) % n).toInt

  final case class StyleSpec(
      style: LogStyle,
      templates: IndexedSeq[String],
      header: (Long, Int, Long) => String) // (rowId, lineNo, h) => header prefix

  // ---- Apache-style: `\[<Time>\] \[<Level>\] <Content>` -----------------------
  private val apacheTemplates = IndexedSeq(
    "worker env reinit for vhost {num}",
    "child process {num} exited with status {num}",
    "client {iph} denied by server configuration",
    "connection to backend {iph} failed retry {num}",
    "cache expired for entry {hex}",
    "module jk2 state {num} recovered",
    "request queue saturated at depth {num}",
    "ssl handshake with {iph} renegotiated")

  val Apache: StyleSpec = StyleSpec(
    LogStyle("apache", "\\[<Time>\\] \\[<Level>\\] <Content>",
      Seq("(\\d+\\.){3}\\d+"), st = 0.5, depth = 4),
    apacheTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 17 + lineNo) % 86400
      val lvl = IndexedSeq("notice", "error", "warn")(pick(mix(h, 31), 3))
      f"[Mon Jan 01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d 2024] [$lvl] "
    })

  // ---- Proxifier-style (hard case): `\[<Time>\] <Program> - <Content>` --------
  private val proxifierTemplates = IndexedSeq(
    "{host} open through proxy {host} HTTPS",
    "{host} close {num} bytes sent {num} bytes received lifetime {dur}",
    "{host} error could not connect through proxy {host} timeout",
    "{host} resolve {host} via proxy",
    "open directly {host}",
    "close directly {host} {num} bytes")

  val Proxifier: StyleSpec = StyleSpec(
    LogStyle("proxifier", "\\[<Time>\\] <Program> - <Content>",
      Seq("<\\d+\\ssec", "([\\w-]+\\.)+[\\w-]+(:\\d+)?", "\\d{2}:\\d{2}(:\\d{2})*",
        "[KGTM]B"),
      st = 0.6, depth = 3),
    proxifierTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 19 + lineNo) % 86400
      val prog = IndexedSeq("chrome.exe", "telegram.exe", "ssh.exe")(pick(mix(h, 32), 3))
      f"[01.01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d] $prog - "
    })

  // ---- Spark-style: `<Date> <Time> <Level> <Component>: <Content>` ------------
  private val sparkTemplates = IndexedSeq(
    "Starting task {num} in stage {num} TID {num}",
    "Finished task {num} in stage {num} in {num} ms",
    "Registering block manager {host} with {num} {unit} RAM",
    "Removed broadcast {num} of size {num} {unit}",
    "Lost executor {num} on {host} heartbeat timed out after {num} ms",
    "Submitting {num} missing tasks from stage {num}",
    "Block {hex} stored as values in memory estimated size {num} {unit}",
    "Executor added {host} with {num} cores")

  val SparkStyle: StyleSpec = StyleSpec(
    LogStyle("spark", "<Date> <Time> <Level> <Component>: <Content>",
      Seq("(\\d+\\.){3}\\d+", "\\b[KGTM]?B\\b", "([\\w-]+\\.){2,}[\\w-]+"),
      st = 0.5, depth = 4),
    sparkTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 23 + lineNo) % 86400
      val lvl = IndexedSeq("INFO", "INFO", "WARN", "ERROR")(pick(mix(h, 33), 4))
      val comp = IndexedSeq("storage.BlockManager", "scheduler.TaskSetManager",
        "executor.Executor")(pick(mix(h, 34), 3))
      f"24/01/01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d $lvl $comp: "
    })

  // ---- Zookeeper-style: bracketed compound header `\[<Node>:<Component>@<Id>\]` —
  // exercises escaped brackets + multi-literal (`:`/`@`) segments between headers
  private val zookeeperTemplates = IndexedSeq(
    "Accepted socket connection from /{iph}",
    "Closed socket connection for client /{iph}",
    "Session establishment complete on server {host} timeout {num}",
    "Expiring session {hex} timeout of {num} ms exceeded",
    "Processed session termination for sessionid {hex}",
    "Received connection request /{iph}",
    "Committing global session {hex}")

  val Zookeeper: StyleSpec = StyleSpec(
    LogStyle("zookeeper",
      "<Date> <Time> - <Level>  \\[<Node>:<Component>@<Id>\\] - <Content>",
      Seq("(/|)(\\d+\\.){3}\\d+(:\\d+)?"), st = 0.5, depth = 4),
    zookeeperTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 29 + lineNo) % 86400
      val lvl = IndexedSeq("INFO", "WARN")(pick(mix(h, 35), 2))
      val node = s"worker-${pick(mix(h, 36), 5)}"
      val comp = IndexedSeq("NIOServerCnxn", "QuorumPeer", "SessionTrackerImpl")(pick(mix(h, 37), 3))
      f"2024-01-01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d - $lvl  [$node:$comp@${100 + pick(mix(h, 38), 900)}] - "
    })

  // ---- OpenSSH-style: literal token between headers (`sshd\[<Pid>\]:`) --------
  private val opensshTemplates = IndexedSeq(
    "Failed password for invalid user {usr} from {iph} port {num} ssh2",
    "Accepted publickey for {usr} from {iph} port {num}",
    "Connection closed by {iph} preauth",
    "pam unix session opened for user {usr} by uid {num}",
    "Received disconnect from {iph} port {num}",
    "Invalid user {usr} from {iph}",
    "error maximum authentication attempts exceeded for {usr} from {iph}")

  val OpenSsh: StyleSpec = StyleSpec(
    LogStyle("openssh", "<Date> <Day> <Time> <Component> sshd\\[<Pid>\\]: <Content>",
      Seq("(\\d+\\.){3}\\d+", "([\\w-]+\\.){2,}[\\w-]+"), st = 0.6, depth = 5),
    opensshTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 31 + lineNo) % 86400
      val host = s"bastion${pick(mix(h, 39), 4)}"
      f"Jan 01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d $host sshd[${1000 + pick(mix(h, 40), 9000)}]: "
    })

  // ---- HealthApp-style: pipe-separated headers (`<Time>\|<Component>\|<Pid>\|`) —
  // exercises escaped non-space literal separators with NO whitespace between groups
  private val healthappTemplates = IndexedSeq(
    "calculateCaloriesWithCache totalCalories={num}",
    "onStandStepChanged {num}",
    "REPORT steps {num} calories {num} distance {num}",
    "getTodayTotalDetailSteps = {num}",
    "processHandleBroadcastAction action {num}",
    "flush sensor data to db",
    "upload steps {num} synced ok")

  val HealthApp: StyleSpec = StyleSpec(
    LogStyle("healthapp", "<Time>\\|<Component>\\|<Pid>\\|<Content>",
      Seq("\\d+\\.\\d+"), st = 0.2, depth = 4),
    healthappTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 37 + lineNo) % 86400
      val comp = IndexedSeq("Step_LSC", "Step_StandReportReceiver", "Step_SPUtils")(pick(mix(h, 41), 3))
      f"20240101-${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d|$comp|${pick(mix(h, 42), 30000)}|"
    })

  // ---- Windows-CBS-style: comma literal + LONG space runs between headers -----
  private val windowsTemplates = IndexedSeq(
    "Loading package manifest update-{num}",
    "Package update-{num} applicable state {num}",
    "Session 0x{hex} initialized by client agent",
    "Starting trusted installer initialization",
    "Ending trusted installer initialization",
    "Store corruption detected in package update-{num}",
    "Read out cached package applicability for package update-{num}")

  val Windows: StyleSpec = StyleSpec(
    LogStyle("windows", "<Date> <Time>, <Level>                  <Component>    <Content>",
      Seq("0x[0-9a-f]+"), st = 0.7, depth = 5),
    windowsTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 41 + lineNo) % 86400
      val lvl = IndexedSeq("Info", "Info", "Error")(pick(mix(h, 43), 3))
      f"2024-01-01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d, $lvl                  CBS    "
    })

  // ---- Linux-syslog-style: OPTIONAL header group `<Component>(\[<PID>\])?:` ----
  // the reference's Linux/Thunderbird shape — the literal `( … )?` adds an unnamed
  // capture group, exercising RexCompiler's group-index tracking; roughly half the
  // lines carry a [pid], the rest (kernel) do not
  private val linuxTemplates = IndexedSeq(
    "session opened for user {usr} by uid {num}",
    "authentication failure for {usr} from {iph}",
    "connection from {iph} at port {num}",
    "check pass user unknown",
    "protocol violation at address {hex}",
    "out of memory killed process {num}")

  val Linux: StyleSpec = StyleSpec(
    LogStyle("linux", "<Month> <Date> <Time> <Level> <Component>(\\[<PID>\\])?: <Content>",
      Seq("(\\d+\\.){3}\\d+", "\\d{2}:\\d{2}:\\d{2}"), st = 0.39, depth = 6),
    linuxTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 43 + lineNo) % 86400
      val withPid = pick(mix(h, 44), 2) == 0
      val comp = if (withPid)
        IndexedSeq("sshd", "su", "ftpd")(pick(mix(h, 45), 3)) +
          s"[${1000 + pick(mix(h, 46), 9000)}]"
      else "kernel"
      f"Jun 15 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d combo $comp: "
    })

  // ---- Hadoop-style: bracketed process + dotted component ---------------------
  private val hadoopTemplates = IndexedSeq(
    "Progress of TaskAttempt attempt_{num} is {num} percent",
    "Starting container container_{num} on host {host}",
    "Reduce task shuffle fetched {num} map outputs",
    "Committing job job_{num} to staging area",
    "Spilling map output buffer full at {num} bytes",
    "Token renewal for appattempt_{num} scheduled",
    "Node {host} reported {num} healthy disks")

  val Hadoop: StyleSpec = StyleSpec(
    LogStyle("hadoop", "<Date> <Time> <Level> \\[<Process>\\] <Component>: <Content>",
      Seq("(\\d+\\.){3}\\d+"), st = 0.5, depth = 4),
    hadoopTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 47 + lineNo) % 86400
      val lvl = IndexedSeq("INFO", "INFO", "WARN")(pick(mix(h, 47), 3))
      val proc = IndexedSeq("main", s"IPC-Handler-${pick(mix(h, 48), 8)}",
        "AsyncDispatcher-event-handler")(pick(mix(h, 49), 3))
      val comp = IndexedSeq("mapred.MapTask", "yarn.RMContainerAllocator",
        "mapreduce.Job")(pick(mix(h, 50), 3))
      f"2024-01-01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d,${pick(mix(h, 51), 1000)}%03d $lvl [$proc] $comp: "
    })

  // ---- BGL-style: NINE single-token headers before content --------------------
  // exercises deep positional header stacks (label, epoch, node repeated twice)
  private val bglTemplates = IndexedSeq(
    "instruction cache parity error corrected",
    "generating core.{num}",
    "ciod error reading message prefix on control stream {num}",
    "double-hummer alignment exceptions {num}",
    "total of {num} ddr error(s) detected and corrected",
    "rts kernel terminated for reason {num}",
    "data TLB error interrupt count {num}")

  val Bgl: StyleSpec = StyleSpec(
    LogStyle("bgl",
      "<Label> <Timestamp> <Date> <Node> <Time> <NodeRepeat> <Type> <Component> <Level> <Content>",
      Seq("core\\.\\d+"), st = 0.5, depth = 4),
    bglTemplates,
    (rowId, lineNo, h) => {
      val node = s"R${pick(mix(h, 52), 8)}-M${pick(mix(h, 53), 2)}-N${pick(mix(h, 54), 16)}-C:J${pick(mix(h, 55), 18)}-U${pick(mix(h, 56), 12)}"
      val lbl = IndexedSeq("-", "KERNDTLB", "KERNRTSP")(pick(mix(h, 57), 3))
      val lvl = IndexedSeq("INFO", "FATAL", "WARNING")(pick(mix(h, 58), 3))
      val epoch = 1704067200L + (rowId * 53 + lineNo) % 86400
      val secs = (rowId * 53 + lineNo) % 86400
      f"$lbl $epoch 2024.01.01 $node 2024-01-01-${secs / 3600}%02d.${(secs / 60) % 60}%02d.${secs % 60}%02d.${pick(mix(h, 59), 1000000)}%06d $node RAS KERNEL $lvl "
    })

  // ---- HPC-style: flat single-token headers incl. numeric flag ----------------
  private val hpcTemplates = IndexedSeq(
    "Component State Change Component alt{num} is in the unavailable state HWID={num}",
    "boot command warning code {hex}",
    "critical temperature threshold exceeded ambient={num}",
    "psu failure detected unit {num}",
    "backplane voltage out of range reading={num}",
    "link error on broadcast tree interconnect {hex}",
    "node configuration commit succeeded slot={num}")

  val Hpc: StyleSpec = StyleSpec(
    LogStyle("hpc", "<LogId> <Node> <Component> <State> <Time> <Flag> <Content>",
      Seq("=\\d+"), st = 0.5, depth = 4),
    hpcTemplates,
    (rowId, lineNo, h) => {
      val logid = 100000 + ((rowId * 59 + lineNo) % 800000)
      val node = s"cn${pick(mix(h, 60), 512)}"
      val comp = IndexedSeq("unix.hw", "boot_cmd", "tower.psu")(pick(mix(h, 61), 3))
      val state = IndexedSeq("state_change.unavailable", "new", "running")(pick(mix(h, 62), 3))
      val epoch = 1704067200L + (rowId * 61 + lineNo) % 86400
      s"$logid $node $comp $state $epoch 1 "
    })

  // ---- Thunderbird-style: 8 headers + optional `(\[<PID>\])?` like Linux ------
  private val thunderbirdTemplates = IndexedSeq(
    "synchronizing time server {iph} offset {num} sec",
    "session opened for user {usr} by uid {num}",
    "connection from {iph} at port {num}",
    "kernel panic averted in module {hex}",
    "dhcp lease renewed on {iph}",
    "scsi reset on channel {num} target {num}",
    "mount of filesystem scratch{num} succeeded")

  val Thunderbird: StyleSpec = StyleSpec(
    LogStyle("thunderbird",
      "<Label> <Timestamp> <Date> <User> <Month> <Day> <Time> <Location> <Component>(\\[<PID>\\])?: <Content>",
      Seq("(\\d+\\.){3}\\d+"), st = 0.5, depth = 4),
    thunderbirdTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 67 + lineNo) % 86400
      val unit = s"tbird-sm${pick(mix(h, 63), 4)}"
      val withPid = pick(mix(h, 64), 2) == 0
      val comp = if (withPid)
        IndexedSeq("ntpd", "sshd", "ib_sm.x")(pick(mix(h, 65), 3)) +
          s"[${1000 + pick(mix(h, 66), 30000)}]"
      else "kernel"
      val epoch = 1131566400L + (rowId * 71 + lineNo) % 86400
      f"- $epoch 2024.01.01 $unit Jan 1 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d src@$unit $comp: "
    })

  // ---- Android-style: double-space literals + aggressive number masking -------
  private val androidTemplates = IndexedSeq(
    "setLightsOn value={num}",
    "dispatching input event to listener {hex}",
    "power setState {num} reason standby",
    "acquire lock={hex} tag=RILJ",
    "screenState changing to {num}",
    "loadedApk making application for package slot {num}",
    "audioflinger track underrun client {num}")

  val Android: StyleSpec = StyleSpec(
    LogStyle("android", "<Date> <Time>  <Pid>  <Tid> <Level> <Component>: <Content>",
      Seq("(/[\\w-]+)+", "([\\w-]+\\.){2,}[\\w-]+",
        "\\b(\\-?\\+?\\d+)\\b|\\b0[Xx][a-fA-F\\d]+\\b|\\b[a-fA-F\\d]{4,}\\b"),
      st = 0.2, depth = 6),
    androidTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 73 + lineNo) % 86400
      val lvl = IndexedSeq("D", "I", "V", "W")(pick(mix(h, 67), 4))
      val comp = IndexedSeq("WindowManager", "PowerManagerService", "ActivityManager")(pick(mix(h, 68), 3))
      f"01-01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d.${pick(mix(h, 69), 1000)}%03d  ${2000 + pick(mix(h, 70), 8000)}  ${2000 + pick(mix(h, 71), 8000)} $lvl $comp: "
    })

  // ---- OpenStack-style: bracketed request ADDR that CONTAINS spaces -----------
  // the lazy `\[(.*?)\]` group must span spaces up to the literal `]`
  private val openstackTemplates = IndexedSeq(
    "VM Started Lifecycle Event for instance {hex}",
    "Took {num} seconds to build instance",
    "Terminating instance {hex}",
    "During sync_power_state the instance has a pending task resize skip",
    "Active base files {hex}",
    "Claim successful on node {host}",
    "Attempting claim memory {num} MB disk {num} GB vcpus {num} CPU")

  val OpenStack: StyleSpec = StyleSpec(
    LogStyle("openstack",
      "<Logrecord> <Date> <Time> <Pid> <Level> <Component> \\[<ADDR>\\] <Content>",
      Seq("((\\d+\\.){3}\\d+,?)+", "/.+?\\s", "\\d+"), st = 0.5, depth = 5),
    openstackTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 79 + lineNo) % 86400
      val lvl = IndexedSeq("INFO", "INFO", "WARNING")(pick(mix(h, 72), 3))
      val comp = IndexedSeq("nova.compute.manager", "nova.virt.libvirt.imagecache",
        "nova.compute.claims")(pick(mix(h, 73), 3))
      val req = s"req-${java.lang.Long.toHexString(mix(h, 74) & 0xFFFFFFFFL)} admin admin - - -"
      f"nova-compute.log.${pick(mix(h, 75), 9)} 2024-01-01 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d.${pick(mix(h, 76), 1000)}%03d ${2000 + pick(mix(h, 77), 8000)} $lvl $comp [$req] "
    })

  // ---- Mac-style: optional MID-format group ` \(<Address>\)` + high st --------
  private val macTemplates = IndexedSeq(
    "Received interface changed notification",
    "wl0 powered on channel {num}",
    "hibernate image path blocks {num}",
    "network change detected on interface en{num}",
    "sandbox denying file-read for pid {num}",
    "captive portal probe on {host} finished",
    "thermal pressure level {num} notification posted")

  val MacStyle: StyleSpec = StyleSpec(
    LogStyle("mac",
      "<Month>  <Date> <Time> <User> <Component>\\[<PID>\\]( \\(<Address>\\))?: <Content>",
      Seq("([\\w-]+\\.){2,}[\\w-]+"), st = 0.7, depth = 6),
    macTemplates,
    (rowId, lineNo, h) => {
      val secs = (rowId * 83 + lineNo) % 86400
      val comp = IndexedSeq("kernel", "corecaptured", "airportd")(pick(mix(h, 78), 3))
      val addr = if (pick(mix(h, 79), 2) == 0)
        s" (${IndexedSeq("CoreFoundation", "QtCore", "libsystem")(pick(mix(h, 80), 3))})"
      else ""
      f"Jan  1 ${secs / 3600}%02d:${(secs / 60) % 60}%02d:${secs % 60}%02d macmini${pick(mix(h, 81), 4)} $comp[${pick(mix(h, 82), 30000)}]$addr: "
    })

  val all: Seq[StyleSpec] =
    Seq(Apache, Proxifier, SparkStyle, Zookeeper, OpenSsh, HealthApp, Windows, Linux,
      Hadoop, Bgl, Hpc, Thunderbird, Android, OpenStack, MacStyle)

  /** Render the content slots for non-HDFS styles. */
  def fillSlots(tpl: String, h0: Long): String = {
    val sb = new StringBuilder
    var i = 0
    var slot = 0
    while (i < tpl.length) {
      val c = tpl.charAt(i)
      if (c == '{') {
        val end = tpl.indexOf('}', i)
        val kind = tpl.substring(i + 1, end)
        val h = mix(h0, 300 + slot)
        slot += 1
        sb.append(kind match {
          case "num"  => String.valueOf((h & Long.MaxValue) % 100000L)
          case "hex"  => java.lang.Long.toHexString(h & 0xFFFFFFL)
          case "iph"  => s"10.${pick(mix(h, 1), 256)}.${pick(mix(h, 2), 256)}.${pick(mix(h, 3), 256)}"
          case "host" => s"srv-${pick(mix(h, 4), 40)}.example.com:${440 + pick(mix(h, 5), 60)}"
          case "dur"  => f"${pick(mix(h, 6), 24)}%02d:${pick(mix(h, 7), 60)}%02d"
          case "unit" => IndexedSeq("KB", "MB", "GB")(pick(mix(h, 8), 3))
          case "usr"  => "user" + pick(mix(h, 9), 200)
        })
        i = end + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The template index of line `lineNo` of styled page `rowId`. */
  def templateIdFor(spec: StyleSpec, rowId: Long, lineNo: Int): Int =
    pick(mix(rowId, 6000L + lineNo), spec.templates.size)

  def lineFor(spec: StyleSpec, rowId: Long, lineNo: Int): String = {
    val h0 = mix(rowId, 5000L + lineNo)
    val content = fillSlots(spec.templates(templateIdFor(spec, rowId, lineNo)), h0)
    spec.header(rowId, lineNo, h0) + content
  }

  /** The url of styled page `rowId`. */
  def urlFor(spec: StyleSpec, rowId: Long): String =
    s"https://${WebPagesGen.domainFor(rowId)}/${spec.style.name}/$rowId"

  /** [[WebPagesGen.templateIdAt]] for a style: the ground-truth template of
    * (url, lineNo), or None when there is none.
    */
  def templateIdAt(spec: StyleSpec, url: String, lineNo: Int): Option[Int] =
    WebPagesGen.rowIdAt(url, lineNo, urlFor(spec, _)).map(templateIdFor(spec, _, lineNo))

  /** Styled pages, same determinism contract as WebPagesGen. */
  def pagesFor(spark: org.apache.spark.sql.SparkSession, spec: StyleSpec, n: Long)
      : org.apache.spark.sql.Dataset[WebPage] = {
    import spark.implicits._
    spark.range(n).as[Long].map { rowId =>
      val lines = (0 until WebPagesGen.linesPerPage(rowId))
        .map(i => lineFor(spec, rowId, i))
      val text = lines.mkString("\n")
      WebPage(urlFor(spec, rowId), new java.sql.Timestamp(1704067200000L + rowId * 997L),
        s"<html><body>$text</body></html>".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        text, "en")
    }
  }
}
