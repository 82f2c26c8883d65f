package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.AssignmentsSink

/** BYTE-exact CLI goldens: the reference's tiny synthetic tier
  * (test/synth/synth.bat) runs 8 variants — {named, numeric} × {objects-file,
  * none} × {representatives, none} — and checks in the exact output files
  * (`test/synth/{named,numeric}[.objs][.reps].clusty`). This spec replays
  * each variant through `graft.Main`'s full pipeline INCLUDING the
  * assignments sink and compares the written file byte-for-byte, pinning
  * down every ordering/tie-break rule at once:
  *
  *  - first-appearance local ids without an objects file (the c–d edge is
  *    dropped by `--min ani 0.70` BEFORE id registration, so c,d vanish);
  *  - stable size-descending cluster renumber (3-3-2 tie broken by
  *    first-appearance seed order: the x-cluster precedes the a-cluster
  *    without an objects file, the reverse with one);
  *  - within-cluster order: name asc (named), numeric id asc (numeric),
  *    objects-file rank with one;
  *  - singleton append in objects-file order with sequential fresh ids;
  *  - representative = first member in final order, replacing the cluster
  *    column under the same `object<TAB>cluster` header;
  *  - numeric mode prints objects-file NAMES when a list is given
  *    (reference graph_numbered.h:322-340).
  */
class SynthCliSpec extends SparkTestBase {

  private val synth = "/root/reference/test/synth"

  private def run(idCols: (String, String), objs: Boolean, reps: Boolean): Array[Byte] = {
    val out = Files.createTempDirectory("synthcli").resolve("out").toString
    val base = Seq("--id-cols", idCols._1, idCols._2, "--distance-col", "ani",
      "--similarity", "--min", "ani", "0.70")
    val objArgs = if (objs) Seq("--objects-file", s"$synth/synth.ids") else Nil
    val repArgs = if (reps) Seq("--out-representatives") else Nil
    val numArgs = if (idCols._1.startsWith("id")) Seq("--numeric-ids") else Nil
    val cfg = Main.parse(base ++ objArgs ++ repArgs ++ numArgs ++
      Seq(s"$synth/synth.ani", out))
    val df = Main.execute(spark, cfg)
    if (reps) AssignmentsSink.writeWithRepresentatives(df, out, "\t")
    else AssignmentsSink.write(df, out, "\t")
    val part = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(part.size == 1, s"expected one part file in $out")
    Files.readAllBytes(part.head)
  }

  private def golden(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(s"$synth/$name.clusty"))

  for {
    (mode, idCols) <- Seq("named" -> ("name1", "name2"), "numeric" -> ("id1", "id2"))
    objs <- Seq(false, true)
    reps <- Seq(false, true)
  } {
    val tag = mode + (if (objs) ".objs" else "") + (if (reps) ".reps" else "")
    test(s"synth $tag output is byte-identical to the reference golden") {
      val got = run(idCols, objs, reps)
      val want = golden(tag)
      assert(got.sameElements(want),
        s"byte mismatch for $tag:\n--- got ---\n${new String(got)}\n--- want ---\n${new String(want)}")
    }
  }
}
