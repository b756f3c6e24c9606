package graft.fixtures

import graft.ingest.{Refresh, Workbook}
import graft.model.Graph
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic golden workbook (FIXTURES.md "Golden workbook fixture"):
  * 1 vCenter, 2 clusters, 2 hosts (host1 with mixed IP/FQDN NTP+DNS lists,
  * host2 with an unmatched Domain), a resource-pool chain of depth ≥5,
  * 3 VMs (one deep folder, one with all four networks, one powered-off
  * template), 2 datastores (one shared), [ds]-prefixed disk paths, one
  * adapter/partition/snapshot — plus an "aged" variant dropping one VM and
  * one host to exercise mark-and-sweep (SURVEY §2.9 M7/M8).
  */
object SyntheticWorkbook {
  val Uid = "vc-uuid-0001"
  val Server = "vcenter01.acme.local"

  private def s(spark: SparkSession, cols: Seq[String], rows: Seq[Seq[String]]) =
    Workbook.sheet(spark, cols, rows)

  def golden(spark: SparkSession): Workbook.Sheets = build(spark, aged = false)
  def aged(spark: SparkSession): Workbook.Sheets = build(spark, aged = true)

  private def build(spark: SparkSession, aged: Boolean): Workbook.Sheets = {
    val vCluster = s(spark,
      Seq("VI SDK UUID", "VI SDK Server", "Name", "OverallStatus", "TotalCpu", "NumCpuCores",
        "TotalMemory", "HA enabled", "DRS enabled"),
      Seq(
        Seq(Uid, Server, "Cluster1", "green", "88000", "32", "524288", "True", "True"),
        Seq(Uid, Server, "Cluster2", "yellow", "44000", "16", "262144", "False", "True")))

    val hostRows = Seq(
      Seq(Server, Uid, "Cluster1", "host-001", "esx01.acme.local", "1", "2", "32", "262144",
        "61 %", "2", "vmware-lic-ent", "intel-broadwell", "2024/01/05 08:00:00", "SVC001",
        "green", "Balanced", "High performance", "Intel Xeon Gold 6230", "7.0.3 build-20842708",
        "Dell Inc.", "PowerEdge R740", "2.15.0", "2023/10/10", "acme.local",
        "10.0.0.10, ntp1.acme.local", "10.0.0.53, dns1.acme.local"),
      Seq(Server, Uid, "Cluster2", "host-002", "esx02.acme.local", "1", "2", "24", "131072",
        "42 %", "1", "vmware-lic-std", "intel-broadwell", "2024/02/11 09:30:00", "SVC002",
        "green", "Balanced", "Balanced", "Intel Xeon Silver 4210", "7.0.3 build-20842708",
        "HPE", "ProLiant DL380", "1.40", "2023/08/01", "unmatched.example",
        "10.0.0.10", "10.0.0.53"))
    val vHost = s(spark,
      Seq("VI SDK Server", "VI SDK UUID", "Cluster", "Object ID", "Host", "NumHosts", "# CPU",
        "# Cores", "# Memory", "Memory usage %", "# VMs", "Assigned License(s)", "Max EVC",
        "Boot time", "Service tag", "Config status", "Current CPU power man. policy",
        "Host Power Policy", "CPU Model", "ESX Version", "Vendor", "Model", "BIOS Version",
        "BIOS Date", "Domain", "NTP Server(s)", "DNS Servers"),
      if (aged) hostRows.take(1) else hostRows)

    val vRP = s(spark,
      Seq("Resource pool", "VI SDK Server", "VI SDK UUID", "# VMs", "# vCPUs", "Mem Configured"),
      Seq(
        Seq("/DC1/Cluster1/Resources", Server, Uid, "3", "8", "65536"),
        Seq("/DC1/Cluster1/Resources/prod", Server, Uid, "2", "4", "32768"),
        Seq("/DC1/Cluster1/Resources/prod/web", Server, Uid, "1", "2", "16384"),
        Seq("/DC1/Cluster1/Resources/prod/web/frontend", Server, Uid, "1", "1", "8192"),
        Seq("/DC1/Cluster2/Resources", Server, Uid, "0", "0", "0")))

    val vmRows = Seq(
      // VM1: deep pool (depth>4) + deep folder (depth>2) + one network.
      Seq(Server, s"VMware vCenter Server 7.0.3 build-20845200", Uid,
        "vm-uuid-01", "web01", "vm-1001", "web01.acme.local", "2024/03/01 10:00:00", "12",
        "frontend vm", "False", "2", "4096", "1", "1", "True", "19", "Up-to-date",
        "connected", "green", "poweredOn", "running", "green",
        "/DC1/Cluster1/Resources/prod/web", "/DC1/vm/apps/web", "Ubuntu Linux (64-bit)",
        "Ubuntu Linux (64-bit)", "PG-App", null, null, null),
      // VM2: all four networks, shallow folder (depth 3 → still >2).
      Seq(Server, s"VMware vCenter Server 7.0.3 build-20845200", Uid,
        "vm-uuid-02", "db01", "vm-1002", "db01.acme.local", "2024/03/02 11:00:00", "7",
        "db vm", "False", "4", "16384", "4", "2", "False", "17", "Upgrade available",
        "connected", "green", "poweredOn", "running", "green",
        "/DC1/Cluster1/Resources/prod", "/DC1/vm/apps", "CentOS 7 (64-bit)",
        "CentOS 7 (64-bit)", "PG-App", "PG-DB", "PG-Backup", "PG-Mgmt"),
      // VM3: powered-off template, shallow pool (depth 4 → no pool link),
      // folder depth 2 → no folder node → VM wired straight to the DC.
      Seq(Server, s"VMware vCenter Server 7.0.3 build-20845200", Uid,
        "vm-uuid-03", "tmpl01", "vm-1003", null, "2023/12/15 09:00:00", "3",
        "golden image", "False", "1", "2048", "0", "1", "False", "15", "Up-to-date",
        "connected", "gray", "poweredOff", "notRunning", "gray",
        "/DC1/Cluster2/Resources", "/DC1", "Microsoft Windows Server 2019 (64-bit)",
        null, null, null, null, null))
    val vInfo = s(spark,
      Seq("VI SDK Server", "VI SDK Server type", "VI SDK UUID", "VM UUID", "VM", "VM ID",
        "DNS Name", "PowerOn", "Change Version", "Annotation", "Consolidation Needed", "CPUs",
        "Memory", "NICs", "Disks", "CBT", "HW version", "HW upgrade status", "Connection state",
        "Config status", "Powerstate", "Guest state", "Heartbeat", "Resource pool", "Folder",
        "OS according to the VMware Tools", "OS according to the configuration file",
        "Network #1", "Network #2", "Network #3", "Network #4"),
      if (aged) vmRows.take(2) else vmRows)

    val vSwitch = s(spark,
      Seq("Host", "Cluster", "VI SDK UUID", "Switch", "# Ports", "Free Ports",
        "Promiscuous Mode", "Mac Changes", "Forged Transmits", "Traffic Shaping",
        "Notify Switch", "MTU", "Offload", "Policy"),
      Seq(
        Seq("esx01.acme.local", "Cluster1", Uid, "vSwitch0", "128", "100", "Reject", "Accept",
          "Accept", "False", "True", "9000", "True", "loadbalance_srcid"),
        Seq("esx02.acme.local", "Cluster2", Uid, "vSwitch0", "128", "110", "Reject", "Reject",
          "Reject", "False", "True", "1500", "True", "loadbalance_ip")))

    val vPort = s(spark,
      Seq("Host", "Cluster", "VI SDK UUID", "Switch", "Port Group", "Policy", "VLAN",
        "Promiscuous Mode", "Mac Changes", "Forged Transmits", "Traffic Shaping"),
      Seq(
        Seq("esx01.acme.local", "Cluster1", Uid, "vSwitch0", "PG-App", "loadbalance_srcid",
          "100", "Reject", "Accept", "Accept", "False"),
        Seq("esx01.acme.local", "Cluster1", Uid, "vSwitch0", "PG-DB", null,
          "200", "Reject", "Accept", "Accept", "False"),
        Seq("esx02.acme.local", "Cluster2", Uid, "vSwitch0", "PG-App", "loadbalance_ip",
          "100", "Reject", "Reject", "Reject", "False")))

    val vNIC = s(spark,
      Seq("Host", "Cluster", "VI SDK UUID", "Switch", "Network Device", "Driver", "Speed",
        "MAC", "WakeOn", "PCI"),
      Seq(
        Seq("esx01.acme.local", "Cluster1", Uid, "vSwitch0", "vmnic0", "ixgbe", "10000 Mb",
          "aa:bb:cc:00:00:01", "True", "0000:3b:00.0"),
        Seq("esx02.acme.local", "Cluster2", Uid, "vSwitch0", "vmnic0", null, null,
          "aa:bb:cc:00:00:02", "False", "0000:3b:00.0")))

    val vNetwork = s(spark,
      Seq("VI SDK Server", "VI SDK UUID", "VM UUID", "Mac Address", "Adapter",
        "Starts Connected", "IP Address", "Network", "Host"),
      Seq(
        Seq(Server, Uid, "vm-uuid-01", "00:50:56:00:00:01", "VMXNET 3", "True",
          "10.0.1.11", "PG-App", "esx01.acme.local")))

    val vDatastore = s(spark,
      Seq("VI SDK UUID", "VI SDK Server", "URL", "Name", "Accessible", "Capacity MB",
        "In Use MB", "Free MB", "# Hosts", "Version", "SIOC enabled", "# VMs", "Address",
        "Config status", "Type", "Hosts"),
      Seq(
        Seq(Uid, Server, "ds:///vmfs/volumes/ds-shared-01/", "ds-shared-01", "True", "1048576",
          "524288", "524288", "2", "6.82", "False", "3", "10.0.2.10", "green", "VMFS",
          "esx01.acme.local, esx02.acme.local"),
        Seq(Uid, Server, "ds:///vmfs/volumes/ds-local-01/", "ds-local-01", "True", "262144",
          "131072", "131072", "1", "6.82", "False", "1", null, "green", "VMFS",
          "esx01.acme.local")))

    val vDisk = s(spark,
      Seq("VI SDK UUID", "VI SDK Server", "VM UUID", "Path", "Disk", "Capacity MB", "Thin",
        "Controller", "Disk Mode", "Eagerly Scrub", "Template", "Host"),
      Seq(
        Seq(Uid, Server, "vm-uuid-01", "[ds-shared-01] web01/web01.vmdk", "Hard disk 1",
          "40960", "True", "SCSI controller 0", "persistent", "False", "False",
          "esx01.acme.local"),
        Seq(Uid, Server, "vm-uuid-02", "[ds-shared-01] db01/db01.vmdk", "Hard disk 1",
          "102400", "False", "SCSI controller 0", "persistent", "True", "False",
          "esx01.acme.local"),
        Seq(Uid, Server, "vm-uuid-02", "[ds-local-01] db01/db01_1.vmdk", "Hard disk 2",
          "204800", "True", "SCSI controller 1", "independent_persistent", "False", "False",
          "esx01.acme.local")))

    val vPartition = s(spark,
      Seq("VI SDK Server", "VI SDK UUID", "VM UUID", "Disk", "Capacity MB", "Consumed MB",
        "Free %"),
      Seq(Seq(Server, Uid, "vm-uuid-01", "/dev/sda1", "40960", "20480", "50")))

    val vSnapshot = s(spark,
      Seq("VI SDK Server", "VI SDK UUID", "VM UUID", "Name", "Description", "Date / time",
        "Size MB (total)"),
      Seq(Seq(Server, Uid, "vm-uuid-02", "pre-upgrade", "before db upgrade",
        "2024/03/05 22:00:00", "8192")))

    Map("vCluster" -> vCluster, "vInfo" -> vInfo, "vRP" -> vRP, "vHost" -> vHost,
      "vSwitch" -> vSwitch, "vPort" -> vPort, "vNIC" -> vNIC, "vNetwork" -> vNetwork,
      "vDatastore" -> vDatastore, "vDisk" -> vDisk, "vPartition" -> vPartition,
      "vSnapshot" -> vSnapshot)
  }

  /** Store pre-seeded with the external CMDB prerequisites the reference
    * only MATCHes (refresh-vmware.cypher:101,151): Jumboframes{enabled},
    * Clientdomain 'acme.local' linked to Company 'Acme Corp'. host-002's
    * Domain ('unmatched.example') has no Clientdomain — pins the D3 skip.
    */
  def seededStore(spark: SparkSession): Refresh.GraphStore = {
    val one = spark.range(1).toDF()
    val jumbo = Graph.nodesFrom(one, "Jumboframes", lit(null), Seq(lit("enabled")),
      Map("name" -> lit("enabled")))
    val cd = Graph.nodesFrom(one, "Clientdomain", lit(null), Seq(lit("acme.local")),
      Map("name" -> lit("acme.local")))
    val co = Graph.nodesFrom(one, "Company", lit(null), Seq(lit("Acme Corp")),
      Map("name" -> lit("Acme Corp")))
    val nodes = Seq(jumbo, cd, co).reduce(_ unionByName _)
    val edge = Graph.edgesFrom(one, "Clientdomain", Seq(lit("acme.local")), "DOMAIN_OF",
      "Company", Seq(lit("Acme Corp")), lit(null))
    Refresh.GraphStore(nodes, edge)
  }
}
